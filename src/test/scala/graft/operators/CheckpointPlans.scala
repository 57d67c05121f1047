package graft.operators

import java.util.concurrent.LinkedBlockingQueue
import java.util.concurrent.TimeUnit

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** Executed plans of the eager `localCheckpoint`s a body runs, in
  * order — the per-round plans of the iterative operators. Their
  * shipped state strategy ([[graft.StateMode.cut]]) materializes every
  * round at construction time, so the DataFrame a core returns only
  * shows the last round over LogicalRDD leaves; each earlier round's
  * full plan is visible only to a `QueryExecutionListener`, which
  * Spark calls with funcName "localCheckpoint" and the executed plan.
  */
object CheckpointPlans {

  private val Marker = "checkpoint_plans_flush"

  def capture[A](spark: SparkSession)(body: => A): (A, Seq[SparkPlan]) = {
    val events = new LinkedBlockingQueue[(String, SparkPlan)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        events.put(funcName -> qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      // listener events arrive asynchronously but in order: once the
      // marker action's event is in, every event of the body is too
      spark.range(1).toDF(Marker).collect()
      val plans = ArrayBuffer.empty[SparkPlan]
      var flushed = false
      while (!flushed) {
        val ev = events.poll(60, TimeUnit.SECONDS)
        assert(ev != null, "query listener events never arrived")
        val (funcName, plan) = ev
        if (funcName == "localCheckpoint") plans += plan
        flushed = funcName == "collect" && plan.output.exists(_.name == Marker)
      }
      (out, plans.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
