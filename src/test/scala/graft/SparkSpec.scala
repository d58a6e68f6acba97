package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one context). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Static conf, read from the SparkContext: must be set by whichever
      // builder creates the one test context, or ExtensionsSpec's fresh
      // session would (dis)inject based on suite ordering.
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
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
