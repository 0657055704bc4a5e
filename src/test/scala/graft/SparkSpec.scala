package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for operator specs (sf0.001 testdata). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val Sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val s = GraftSession.builder(master = "local[4]", shufflePartitions = 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = {
    // session is shared across suites in one JVM — do not stop it here
    super.afterAll()
  }
}

object SparkSpec {
  /** `body`'s result and the analyzed plans of every query it runs in
    * `spark`, commands included, read after the listener bus drains. */
  def queriesRun[T](spark: SparkSession)(body: => T): (T, Seq[LogicalPlan]) = {
    import org.apache.spark.sql.execution.QueryExecution
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe.analyzed)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        seen.add(qe.analyzed)
    }
    spark.listenerManager.register(listener)
    val result =
      try {
        val r = body
        org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
        r
      } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    (result, seen.asScala.toSeq)
  }

  /** Every node of `p`, descending into the inner query a write
    * command holds outside its children. */
  def planNodes(p: LogicalPlan): Seq[LogicalPlan] =
    p +: (p.children ++ p.innerChildren.collect { case c: LogicalPlan => c }).flatMap(planNodes)
}
