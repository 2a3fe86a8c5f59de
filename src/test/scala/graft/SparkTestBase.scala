package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local session for Spark-backed specs. */
trait SparkTestBase extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"

  /** Jobs Spark starts from this thread while `build` runs. A marker job
    * after it flushes the listener: events reach it in order. */
  def jobsDuring(build: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"graft-build-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty("spark.job.description") == "marker") marker.countDown()
          else jobs.incrementAndGet()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "build")
      build
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener never saw the marker job")
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

object SparkTestBase {
  /** The mains' session on a fixed local[4], whatever SPARK_GRAFT_CPUS
    * says, so plan-shape and job-count specs see 4 shuffle partitions. */
  lazy val session: SparkSession = GraftSession("4")
}
