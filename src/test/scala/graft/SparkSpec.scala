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

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
