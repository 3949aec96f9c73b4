package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.GraftSession

/** Benchmark main: one workload, one seed, one closed loop with a single
  * client thread for `--seconds`, then a raw JSON record of every op (and,
  * with `--trace 1`, every span) for `perfbench/run.py` to summarize.
  * The workload's warm-up ops run first: they are checked and counted
  * like every op but are never timing samples.
  *
  * {{{
  * Main --workload medallion_sf0.01 --seed 1 --seconds 20 --trace 0 \
  *      --fixture DIR --oracle DIR --work DIR --record FILE
  *      [--setup-reps 3] [--fail-op N]
  * }}}
  * With `--trace 1`, the ops of each kind after the warm-up alternate
  * between untraced and traced, so the trace overhead is measured against
  * the same run.
  * `--fail-op N` marks op N failed (self-test of the error accounting).
  */
object Main {

  /** Fewest timed ops per run, and per side of a traced run. */
  private val MinOps = 2

  private def arg(args: Map[String, String], k: String): String =
    args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val setupReps = args.getOrElse("setup-reps", "3").toInt
    val failOp = args.getOrElse("fail-op", "-1").toInt
    val work = arg(args, "work")
    System.setProperty("derby.stream.error.file", s"$work/derby.log")

    val spark = GraftSession.local()
    val cores = spark.sparkContext.defaultParallelism
    val tracer = new Tracer(spark)
    val env = Env(spark, tracer, arg(args, "fixture"), arg(args, "oracle"), work, seed, cores)
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "seconds" -> seconds)
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
    }
    try {
      record("host") = Map(
        "cores" -> cores, "master" -> spark.sparkContext.master,
        "spark_version" -> spark.version,
        "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
        "available_processors" -> Runtime.getRuntime.availableProcessors)
      record("canary_s") = canary(spark)
      phase("canary")

      val w = Workload(workload, env)
      val setups = (1 to setupReps).map { r =>
        val dir = s"$work/setup$r"
        val t0 = System.nanoTime()
        w.setup(dir)
        (System.nanoTime() - t0) / 1e9
      }
      record("setup_s") = setups
      phase("setup")
      w.prepare()
      phase("prepare")

      record("mix") = w.mix
      val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
      val timed = Array(0, 0) // correct timed ops: untraced, traced
      var failed = 0
      def runOp(i: Int, warm: Boolean, traced: Boolean): Unit = {
        w.beforeOp(i)
        if (traced) { tracer.start(); tracer.resetOpCounters() }
        val compile0 = CodeGenerator.compileTime
        val t0 = System.nanoTime()
        val result = try Right(tracer.span("op", w.kind(i))(w.op(i)))
                     catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        val wallMs = (System.nanoTime() - t0) / 1e6
        if (traced) {
          tracer.drain()
          result.foreach(t => tracer.annotate(t.id, tracer.opCounters(CodeGenerator.compileTime - compile0)))
          tracer.stop()
        }
        val error = result.fold(Some(_), t =>
          if (i == failOp) Some("forced failure")
          else try w.check(i, t.value) catch { case e: Exception => Some(s"check: ${e.getMessage}") })
        val extra = result.fold(_ => Map.empty[String, Any], t => w.detail(t.value))
        ops += Map("i" -> i, "kind" -> w.kind(i), "warm" -> warm, "traced" -> traced,
          "wall_ms" -> wallMs, "ok" -> error.isEmpty, "error" -> error.orNull,
          "span" -> result.fold(_ => 0L, _.id), "steps" -> w.takeSteps()) ++ extra
        if (error.nonEmpty) failed += 1
        else if (!warm) timed(if (traced) 1 else 0) += 1
        error.foreach(e => System.err.println(s"[perfbench] op $i failed: $e"))
      }

      var i = 0
      tracer.root(workload, trace) {
        while (i < w.warmOps) { runOp(i, warm = true, traced = false); i += 1 }
        phase("warmup")
        val start = System.nanoTime()
        def past(windows: Int) = System.nanoTime() > start + (windows * seconds * 1e9).toLong
        // past the window, go on until each side has MinOps samples, unless
        // ops keep failing or the window has passed three times over
        def enough = timed(0) >= MinOps && (!trace || timed(1) >= MinOps)
        val seen = mutable.Map.empty[String, Int].withDefaultValue(0)
        while (!past(1) || (!enough && failed < MinOps && !past(3))) {
          // the ops of every kind run untraced, traced, traced, untraced,
          // ..., so a trend across the run (JIT warming) cancels out of
          // the trace overhead
          val k = w.kind(i)
          runOp(i, warm = false, traced = trace && Set(1, 2)(seen(k) % 4))
          seen(k) += 1
          i += 1
        }
      }
      phase("window")
      record("phase_s") = phases
      record("ops") = ops.toSeq
      record("spans") = tracer.spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs))
    } catch {
      case e: Throwable =>
        record("fatal") = s"${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[perfbench] fatal: ${record("fatal")}")
    } finally {
      Files.write(Paths.get(arg(args, "record")),
        Serialization.write(record)(DefaultFormats).getBytes(StandardCharsets.UTF_8))
      spark.stop()
    }
    if (record.contains("fatal")) sys.exit(2)
  }

  /** The fixed-shape host canary of `graft.Bench`: 4M generated rows, a
    * 4096-key aggregation into the noop sink; four runs, median of the
    * last three. Recorded, so host drift between runs shows.
    */
  private def canary(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 4000000L, 1L, 32).selectExpr("id % 4096 as k", "id as v")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("v"), org.apache.spark.sql.functions.avg("v"))
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    (1 to 4).map(_ => once()).drop(1).sorted.apply(1)
  }
}

/** Writes the registry's DuckDB oracle statements for the queries the
  * workloads check, as JSON: `OracleSql FILE NAME...`. No Spark session.
  */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    Files.write(Paths.get(args.head),
      Serialization.write(args.tail.map(n => n -> sql(n)).toMap)(DefaultFormats)
        .getBytes(StandardCharsets.UTF_8))
  }
}
