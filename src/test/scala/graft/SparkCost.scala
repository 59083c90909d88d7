package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spark jobs started and output bytes written while `body` runs. */
final case class SparkCost(jobs: Long, bytesWritten: Long)

object SparkCost {
  def of[T](spark: SparkSession)(body: => T): (T, SparkCost) = {
    val jobs = new AtomicLong
    val bytes = new AtomicLong
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => bytes.addAndGet(m.outputMetrics.bytesWritten))
    }
    val sc = spark.sparkContext
    org.apache.spark.testbus.Drain(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.testbus.Drain(sc)
      (out, SparkCost(jobs.get, bytes.get))
    } finally sc.removeSparkListener(l)
  }
}
