package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session; specs must
  * not stop it). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Spark jobs `f` runs, counted by a listener on a local-property tag; a
    * sentinel job submitted afterwards is delivered after all of them. */
  protected def jobsOf(f: => Any): Int = {
    val tag = "graft.test.jobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))) match {
          case Some("counted")  => jobs.incrementAndGet()
          case Some("sentinel") => sentinelSeen.countDown()
          case _                =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "counted"); f
      sc.setLocalProperty(tag, "sentinel"); sc.parallelize(Seq(1), 1).count()
      assert(sentinelSeen.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener never saw the sentinel job")
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
    jobs.get()
  }
}

object SparkSpec {
  lazy val session: SparkSession =
    // managed test tables land in a throwaway warehouse
    GraftSession.local(4, "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
}
