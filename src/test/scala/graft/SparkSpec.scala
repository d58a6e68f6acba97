package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one context). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    // the engine's own factory, so tests run under the same confs and
    // extensions as Bench and Verify
    val s = core.Session.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  // val (not def): a stable identifier, so `import spark.implicits._` works
  protected val spark: SparkSession = SparkTestSession.spark
  protected val sfDir: String = SparkTestSession.sfDir

  /** Stage names of every Spark job `body` launched on this thread. A
    * sentinel job in a second group flushes the listener: events reach a
    * listener in order, so once it has seen the sentinel it has seen
    * every job of `body`.
    */
  protected def jobsDuring(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val group = s"jobs_during_${java.util.UUID.randomUUID}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => seen.add(j.stageInfos.map(_.name).mkString("; "))
          case Some(g) if g == group + "_sentinel" => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobsDuring")
      body
      sc.setJobGroup(group + "_sentinel", "flush marker")
      spark.range(1).count()
      assert(flushed.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "sentinel job never reached the listener")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    seen.asScala.toSeq
  }
}
