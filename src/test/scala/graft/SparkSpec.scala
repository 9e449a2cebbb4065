package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .appName(getClass.getSimpleName)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** The Spark jobs started while `body` runs. The listener bus is
    * drained before the count starts, so earlier jobs' late events are not
    * counted, and after `body`, so none of its own are missed.
    */
  def countJobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      body
      ListenerBusDrain(sc)
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }
}
