package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites run
  * sequentially inside sbt's forked test JVM).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf0001 = "/root/testdata/sf0.001"

  /** The start events of the jobs `body` runs, seen by a SparkListener.
    * `body` runs under a job group of its own; the listener bus delivers
    * events in order, so once a marker job's start has arrived, every job
    * `body` started has been seen.
    */
  def jobsStarted(body: => Any): Seq[SparkListenerJobStart] = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID}"
    val marker = s"$group-marker"
    def groupOf(e: SparkListenerJobStart) =
      Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]
    val delivered = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (groupOf(e) == group) seen.add(e)
        else if (groupOf(e) == marker) delivered.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(delivered.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the listener bus never delivered the marker job")
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(master = "local[8]", shufflePartitions = 8).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
