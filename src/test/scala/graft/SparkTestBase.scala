package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session per suite (guide: one SparkSession per suite). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Jobs `body` starts in `s`'s context. */
  def jobsDuring(s: SparkSession)(body: => Unit): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusAccess.drain(s.sparkContext)
    s.sparkContext.addSparkListener(l)
    try {
      body
      ListenerBusAccess.drain(s.sparkContext)
    } finally s.sparkContext.removeSparkListener(l)
    n.get
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val warehouse = java.nio.file.Files.createTempDirectory("graft-warehouse")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(warehouse.toFile))
    val s = Sessions.builder("local[4]", "4")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
