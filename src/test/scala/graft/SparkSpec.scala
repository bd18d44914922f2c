package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs `body` starts from this thread. */
  protected def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${System.nanoTime}"
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      ListenerBusDrain.drain(sc)
      sc.removeSparkListener(l)
    }
    jobs.get
  }

  /** The nodes of `df`'s physical plan that `pf` matches, looking through
    * adaptive plans and query stages (not into cached relations). */
  protected def planNodes[A](df: DataFrame)(pf: PartialFunction[SparkPlan, A]): Seq[A] =
    SparkSpec.aqe.collect(df.queryExecution.executedPlan)(pf)
}

object SparkSpec {
  private object aqe extends AdaptiveSparkPlanHelper

  lazy val session: SparkSession =
    SparkSessions.builder("graft-test", "local[4]", "4").getOrCreate()
}
