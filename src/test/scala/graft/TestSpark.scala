package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (sessions are expensive;
  * specs must not stop() it). */
object TestSpark {
  lazy val spark: SparkSession = graft.core.GraftSession.local(4)
  val sf0001 = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs, counted by a listener drained
    * with [[ListenerBusDrain]] before and after. */
  def jobsIn(body: => Any): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }
}
