package perfbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The catalog's timed action must do the entry's full work: a
  * `count()` lets Catalyst drop q06's window, the digest must not. */
class PruningGuardSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = graft.GraftSession.build("2")
  private val data = Paths.get("data").toAbsolutePath

  /** Physical plans executed while `body` runs. */
  private def executed(body: => Unit): Seq[SparkPlan] = {
    val plans = mutable.ArrayBuffer.empty[SparkPlan]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try body finally {
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(l)
    }
    plans.synchronized(plans.toList)
  }

  private def windows(plans: Seq[SparkPlan]): Int =
    plans.map(p => collect(p) { case w: WindowExec => w }.size).sum

  private def q06 = graft.SparkEntry.queries("q06_window_share")(
    spark, CatalogMix.tables(data).toString)

  test("the timed action for q06_window_share executes its Window") {
    val plans = executed(CatalogMix.digest(q06))
    assert(plans.nonEmpty)
    assert(windows(plans) > 0, "the digest let Catalyst prune q06's window")
  }

  test("the digest matches the one recorded from oracle-checked output") {
    assert(CatalogMix.digest(q06) == CatalogMix.expected(data)("q06_window_share"))
  }
}
