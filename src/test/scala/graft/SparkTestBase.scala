package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs — one per suite, lazy.
  *
  * A suite that ends with a checkpoint dir still set on the shared
  * context fails: the dir selects the reliable path of every
  * [[graft.operators.Checkpoint.cut]], so a leftover one would silently
  * move every later suite onto it. The dir is cleared before the
  * failure is raised, so the leak stops at the suite that made it. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Spark jobs started by `body`, bracketed by marker jobs: listener
    * events arrive in posting order, so the jobs seen between the two
    * markers are exactly the jobs `body` started. */
  def jobsStartedBy(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.LinkedBlockingQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.put(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    def jobsUpToMarker(): Int = {
      val marker = s"jobs-marker-${java.util.UUID.randomUUID}"
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      var n = 0
      var g = groups.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      while (g != null && g != marker) {
        n += 1
        g = groups.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      assert(g == marker, "marker job never reached the listener")
      n
    }
    sc.addSparkListener(listener)
    try {
      jobsUpToMarker()
      body
      jobsUpToMarker()
    } finally sc.removeSparkListener(listener)
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally SparkTestBase.clearLeftoverCheckpointDir(suiteName)
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Unset a checkpoint dir left on the shared context and fail naming
    * the suite; a no-op when none is set or no suite built the session. */
  private[graft] def clearLeftoverCheckpointDir(suite: String): Unit =
    SparkSession.getDefaultSession.map(_.sparkContext).foreach { sc =>
      sc.getCheckpointDir.foreach { dir =>
        sc.setCheckpointDir(null)
        throw new IllegalStateException(
          s"$suite left the session checkpoint dir set ($dir); restore it " +
            "in a finally block, or every later suite runs the reliable cut path")
      }
    }
}
