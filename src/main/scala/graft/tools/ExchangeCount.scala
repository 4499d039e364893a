package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Per query, every shuffle exchange it plans: hash, range, round-robin and
  * single-partition exchanges (reused ones excluded) in the final plan, plus
  * those in the plans executed while the frame is built (localCheckpoint and
  * collect legs). PlanLint's `shuffles=` budget counts only the final plan's
  * hash and range exchanges, so a round-robin `QueryDSL.spread` or one inside
  * a checkpointed leg shows only here. Run it on a single-file and on a
  * multi-file copy of the same tables (GenScale) to see which exchanges a
  * file layout adds or removes. Session as PlanLint's (`local[8]`).
  *
  * Run: runMain graft.tools.ExchangeCount sfDir [nameRegex] */
object ExchangeCount {
  private val FinalExchange =
    "Exchange (hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)".r
  /** An exchange node's header in the formatted plan a SQL execution posts. */
  private val FormattedExchange = raw"^\(\d+\) Exchange\s*$$".r

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nameFilter = args.lift(1).map(_.r)
    val spark = graft.Harness.session("local[8]", 8)
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case e: SparkListenerSQLExecutionStart => captured.add(e.physicalPlanDescription)
        case _ => ()
      }
    })
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => nameFilter.forall(_.matches(name)) }
      .foreach { case (name, fn) =>
        org.apache.spark.graft.BusFlush.drain(spark.sparkContext)
        captured.clear()
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        org.apache.spark.graft.BusFlush.drain(spark.sparkContext)
        var built = 0
        var p = captured.poll()
        while (p != null) {
          built += p.linesIterator.count(FormattedExchange.findFirstIn(_).nonEmpty)
          p = captured.poll()
        }
        val fin = plan.linesIterator.count(l =>
          !l.contains("ReusedExchange") && FinalExchange.findFirstIn(l).nonEmpty)
        println(f"EXCH $name%-34s final=$fin%-3d built=$built%-3d total=${fin + built}")
        spark.catalog.clearCache()
      }
    spark.stop()
  }
}
