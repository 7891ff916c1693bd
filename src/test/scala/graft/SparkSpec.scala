package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.listenerBus
import org.scalatest.{Args, Status}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM — Test/fork). */
object SparkSpec {
  lazy val session: SparkSession =
    graft.sources.Tables.session("graft-test", cpus = 4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** The suite's scratch dir: made by [[graft.sources.Tables.withScratch]]
    * around the whole run, so it is deleted after the last test. */
  private var scratch: java.nio.file.Path = null
  private var made = 0

  /** A fresh empty dir inside the suite's scratch dir. */
  protected def tmp(): String = {
    require(scratch != null, "tmp() is only available while the suite runs")
    made += 1
    java.nio.file.Files.createDirectory(scratch.resolve(s"t$made")).toString
  }

  /** `body`'s result and the Spark jobs it started, counted once the
    * listener bus has delivered every event. */
  protected def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        started.incrementAndGet(); () }
    }
    listenerBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      listenerBus.drain(sc)
      (r, started.get)
    } finally sc.removeSparkListener(l)
  }

  override def run(testName: Option[String], args: Args): Status =
    graft.sources.Tables.withScratch(s"spec-$suiteName") { dir =>
      scratch = dir
      try super.run(testName, args) finally scratch = null
    }
}
