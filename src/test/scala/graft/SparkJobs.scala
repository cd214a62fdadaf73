package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Counts the Spark jobs a block runs and the RDDs it leaves persisted,
  * for job-count and cache-leak guards in tests. */
object SparkJobs {

  /** Runs `body` under its own job group and returns its value with the
    * number of jobs it started. A marker job in a second group follows:
    * events reach a listener in order, so once the marker arrives every job
    * of the block has been counted. */
  def count[T](sc: SparkContext)(body: => T): (T, Int) = {
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(
          Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("counted", "counted block")
      val out = body
      sc.setJobGroup("counted-end", "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("counted-end") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains("counted-end"), "marker job never reached the listener")
      (out, groups.asScala.count(_ == "counted"))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Runs `body` and returns its value with the number of RDDs it left persisted. */
  def persisted[T](sc: SparkContext)(body: => T): (T, Int) = {
    val before = sc.getPersistentRDDs.keySet
    val out = body
    (out, (sc.getPersistentRDDs.keySet -- before).size)
  }
}
