package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session + fixture paths for all suites (one JVM-wide session
  * via getOrCreate; suites must not stop it). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.get("graft-test")
  val sf: String = "/root/testdata/sf0.001"

  /** Spark jobs started while `f` runs, the listener bus drained on
    * both sides. */
  protected def jobsOf[T](f: => T): (Int, T) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val lis = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.graft.SparkInternals.waitListenerBus(sc, 10000L)
    sc.addSparkListener(lis)
    try {
      val out = f
      org.apache.spark.sql.graft.SparkInternals.waitListenerBus(sc, 10000L)
      (jobs.get, out)
    } finally sc.removeSparkListener(lis)
  }
}
