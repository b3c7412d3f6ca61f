package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Run `f` and count the Spark jobs it started on this thread. The
    * listener bus is asynchronous, so a tagged one-task fence job runs
    * afterwards: once its start event arrives, every earlier one has.
    */
  def countJobs[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val key = "graft.test.jobProbe"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)).orNull match {
          case `tag`                     => jobs.incrementAndGet()
          case t if t == s"$tag:fence"   => fenced.countDown()
          case _                         =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      val out = try f finally sc.setLocalProperty(key, s"$tag:fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fenced.await(60, TimeUnit.SECONDS), "listener bus fence timed out")
      (out, jobs.get())
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  /** Run `f` with the session conf `key` set to `value`, then restore it. */
  def withConf[T](key: String, value: String)(f: => T): T = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f
    finally prior.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
  }
}
