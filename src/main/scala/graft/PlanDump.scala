package graft

import java.nio.file.{Files, Paths}

/** Plan evidence for an optimization: dump `.explain("formatted")` for
  * named registered queries to `<outDir>/<query>_<suffix>.txt`, so a
  * `before`/`after` pair shows what a change did to each plan.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <q1,q2,...> [sfDir]
  * (query patterns as in [[SparkEntry.selects]])
  *
  * Two artifacts per query:
  *  - the FORMATTED pre-execution plan (Exchange count, join strategy,
  *    PushedFilters/ReadSchema, codegen spans — the shape to compare);
  *  - appended post-execution AQE final plan summary (executedPlan after
  *    one noop run), because AQE's runtime join/coalesce decisions are
  *    invisible in the initial plan.
  *
  * Iterative operators (connected components, PageRank) drive MANY plans
  * per query — the dump shows the returned frame's plan; per-iteration shapes
  * are pinned separately in PlanSpec where they matter.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = args.lift(3).getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.selected(args(2)).toSeq.sortBy(_._1)
    for ((name, fn) <- selected) {
      try {
        val df = fn(spark, sfDir)
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        df.write.mode("overwrite").format("noop").save()
        val finalPlan = df.queryExecution.executedPlan.toString
        Files.write(Paths.get(s"$outDir/${name}_$suffix.txt"),
          (s"== explain(formatted), $name, $sfDir ==\n" + formatted +
            "\n\n== post-execution (AQE final) ==\n" + finalPlan)
            .getBytes("UTF-8"))
        println(s"[plandump] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
      Measure.sweep(spark)
    }
    spark.stop()
  }
}
