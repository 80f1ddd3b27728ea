package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Spark jobs a block of code starts, for specs that assert plan
  * structure by counting jobs instead of timing them. */
object SparkJobs {

  /** `body`'s result and the description of every job started while it
    * runs ("" for an undescribed job). A marker job run afterwards
    * flushes the asynchronous listener bus: once the listener has seen
    * it, it has seen every earlier job too. */
  def descriptions[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val marker = s"spark-jobs-marker-${System.nanoTime()}"
    try {
      val out = body
      sc.setJobDescription(marker)
      try spark.range(1).count() finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 60000
      while (!seen.contains(marker) && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(seen.contains(marker), "listener bus did not drain")
      (out, seen.asScala.toSeq.filterNot(_ == marker))
    } finally sc.removeSparkListener(listener)
  }
}
