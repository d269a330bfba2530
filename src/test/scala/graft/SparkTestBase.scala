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
