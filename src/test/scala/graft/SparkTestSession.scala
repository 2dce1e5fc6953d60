package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (ScalaTest runs suites in one
  * forked JVM; getOrCreate makes this a single SparkContext). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sf0001 = "/root/testdata/sf0.001"

  /** Jobs started by `f`, counted by a listener. The bus delivers events
    * in order, so once a later marker job has been seen every job of `f`
    * has been counted. */
  def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      def inGroup(g: String)(body: => Unit): Unit = {
        sc.setJobGroup(g, g)
        try body finally sc.clearJobGroup()
      }
      inGroup("jobs-of")(f)
      inGroup("jobs-of-marker")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!groups.contains("jobs-of-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("jobs-of-marker"), "listener bus did not drain")
      groups.asScala.count(_ == "jobs-of")
    } finally sc.removeSparkListener(listener)
  }
}
