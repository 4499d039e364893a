package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Batch stage census (round 16): takes a COMMA LIST of queries and censuses
  * each in one warm session, so no query pays a JVM spin-up. Each query is
  * warmed once, then timed once with the per-stage (tasks, wall ms) breakdown; a
  * control query (tpch_q3_shape) brackets the list so host-load windows are
  * visible in the output.
  *
  * Usage: runMain graft.tools.Census q1,q2,... [sfDir]
  */
object Census {
  def main(args: Array[String]): Unit = {
    val qs = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.Harness.session("local[32]", 32)
    graft.Tables.lineitem(spark, sfDir).count() // warm-up
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val ms = for {
          a <- i.submissionTime; b <- i.completionTime
        } yield b - a
        val rdds = i.rddInfos.map(r => s"${r.name}#${r.numPartitions}")
          .mkString(" <- ")
        stages.add(f"STAGE id=${i.stageId}%4d tasks=${i.numTasks}%4d " +
          f"ms=${ms.getOrElse(-1L)}%6d ${rdds.take(160)}")
      }
    })
    def timeOnce(q: String, census: Boolean): Unit = {
      graft.Harness.consume(graft.SparkEntry.queries(q)(spark, sfDir)) // warm
      stages.clear()
      val t0 = System.nanoTime()
      graft.Harness.consume(graft.SparkEntry.queries(q)(spark, sfDir))
      println(f"TOTAL $q ${(System.nanoTime() - t0) / 1e9}%.2f s")
      if (census) {
        Thread.sleep(1500)
        stages.forEach(println(_))
      }
    }
    timeOnce("tpch_q3_shape", census = false) // control: calm-host floor ~0.57 s
    qs.foreach { q => timeOnce(q, census = true) }
    timeOnce("tpch_q3_shape", census = false)
    spark.stop()
  }
}
