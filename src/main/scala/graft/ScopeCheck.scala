package graft

import graft.queries.DedupQueries

/** Diagnostic main: does the scoped wide-shuffle ceiling actually reach
  * q93's banded candidate exchanges? Runs the q93 operator once against its
  * stored index and prints the per-stage task counts — under the scoped
  * `initialPartitionNum = max(8×cores, 256)` the heavy exchanges submit
  * with >32 tasks (AQE coalesces *down* from 256 by map statistics);
  * at the 32-partition session default no stage can exceed the scan
  * parallelism. Wall-clock-noise-immune: counts, not seconds.
  */
object ScopeCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("target/sfgen/sf10")
    val spark = GraftSession.local()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        stages.add((s.stageInfo.stageId, s.stageInfo.numTasks))
    })
    DedupQueries.q93Index(spark, sfDir)
    stages.clear()
    DedupQueries.q93Probe(spark, sfDir).write.mode("overwrite").format("noop").save()
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
    import scala.jdk.CollectionConverters._
    val counts = stages.asScala.toSeq.sortBy(_._1)
    println("STAGE_TASKS=" + counts.map { case (id, n) => s"$id:$n" }.mkString(","))
    println("MAX_STAGE_TASKS=" + counts.map(_._2).max)
    spark.stop()
  }
}
