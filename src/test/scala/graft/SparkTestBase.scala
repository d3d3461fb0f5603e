package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** One shared local session for the whole suite (per-suite sessions would
  * dominate test wall-time). UTC + small shuffle parallelism, like the
  * driver harness.
  */
trait SparkTestBase { this: Suite =>
  lazy val spark: SparkSession = SparkTestBase.session
  lazy val sf: String = "/root/testdata/sf0.001"

  /** `body`'s result and, in start order, the tags and description of
    * every Spark job it started, on its own thread or on one that
    * inherits its local properties ([[Jobs.overlap]]'s tasks). `body`
    * runs with the job description [[SparkTestBase.CallerStep]] unless it
    * sets another.
    */
  def jobsOf[T](body: => T): (T, Seq[(Set[String], String)]) = {
    val sc = spark.sparkContext
    val own = s"graft-spec-jobs-${java.util.UUID.randomUUID}"
    val seen = new ConcurrentLinkedQueue[(Set[String], String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          val tags = Option(p.getProperty("spark.job.tags")).toSet[String]
            .flatMap(_.split(",")).filter(_.nonEmpty)
          if (tags(own)) seen.add((tags - own, p.getProperty("spark.job.description")))
        }
    }
    val description = sc.getLocalProperty("spark.job.description")
    sc.addSparkListener(listener)
    sc.addJobTag(own)
    sc.setJobDescription(SparkTestBase.CallerStep)
    try {
      val out = body
      ListenerBusAccess.drain(sc)
      (out, seen.asScala.toList)
    } finally {
      sc.setJobDescription(description)
      sc.removeJobTag(own)
      sc.removeSparkListener(listener)
    }
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = Engine.session("local[4]", 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The job description [[SparkTestBase.jobsOf]] runs its body with. */
  val CallerStep = "caller step"
}
