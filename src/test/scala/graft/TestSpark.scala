package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")
}

trait SparkTestBase {
  lazy val spark: SparkSession = TestSpark.spark

  /** `body`'s result and the Spark jobs it started, counted by a
    * listener. The listener bus is drained before and after, as
    * [[QueryProfile]] does, so earlier jobs are not counted and late
    * events are.
    */
  def withJobCount[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    Thread.sleep(300)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      Thread.sleep(300)
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
