package graft.did

import org.apache.spark.SparkListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Test helper: the Spark jobs a block submits, counted by job group. */
object SparkJobs {
  def of[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"jobs-${System.nanoTime()}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == tag))
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(tag, tag)
    try {
      val r = body
      SparkListenerDrain(sc)
      (r, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }
}
