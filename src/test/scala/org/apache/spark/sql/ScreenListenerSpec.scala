package org.apache.spark.sql

import graft.{SparkEntry, SparkTestBase}

/** The registry's screen queries release the ledger listener that
  * `Pipeline.compile` registers. `listListeners` is `private[sql]`, hence
  * this package (as for `GraftSqlBridge`).
  */
class ScreenListenerSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private val screens = Seq("screen_e2e_fixture", "screen_e2e_pourbaix")

  test("screen registry queries leave the session's listener count unchanged") {
    def listeners: Int = spark.listenerManager.listListeners().length
    def runAll(): Unit =
      screens.foreach(n => assert(SparkEntry.queries(n)(spark, sf).collect().nonEmpty))
    // one pass first: listeners Spark itself registers lazily on
    // a session's first observed query are not the queries' to release
    runAll()
    val before = listeners
    runAll()
    runAll()
    assert(listeners == before,
      s"listeners grew from $before to $listeners over two runs of ${screens.mkString(", ")}")
  }
}
