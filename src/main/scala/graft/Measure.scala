package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{GraftBridge, SparkSession}

/** The one measurement loop behind [[Bench]] (registry queries and the
  * shape pair) and [[ScaleRamp]]: a meter, a cache sweep, a metered timed
  * rep, and interleaved reps with the noise-retry rule (DECISIONS.md
  * "Bench measurement rules" gives the reason for each rule).
  */
object Measure {

  /** One rep: wall seconds, jobs launched, stage input bytes, disk-spill
    * bytes, and whether the body returned. Input bytes count cached-block
    * re-reads as well as file scans (an iterative query re-reading its
    * persisted edges accumulates them), so read scan bytes as "bytes
    * entering tasks", not file I/O. Disk spill records which memory tier
    * a scale run executed on.
    */
  final case class Rep(sec: Double, jobs: Long, scanBytes: Long, spillBytes: Long, ok: Boolean)

  private final class Meter extends SparkListener {
    val jobs, bytes, spill = new AtomicLong
    override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      bytes.addAndGet(sc.stageInfo.taskMetrics.inputMetrics.bytesRead)
      spill.addAndGet(sc.stageInfo.taskMetrics.diskBytesSpilled)
    }
  }

  /** Drops the state a body may leave behind: CacheManager entries and
    * directly persisted RDDs (the localCheckpoint blocks behind a returned
    * frame land there too).
    */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Runs `body` once, timed, counting what it launches after the listener
    * bus drains. A throw is returned as `Left` with the rep marked failed:
    * a crashed body must not pass for a fast one.
    */
  def metered[T](spark: SparkSession)(body: => T): (Either[Throwable, T], Rep) = {
    val sc = spark.sparkContext
    GraftBridge.drainListenerBus(sc) // earlier work's events stay off this meter
    val meter = new Meter
    sc.addSparkListener(meter)
    try {
      val t0 = System.nanoTime()
      val out = try Right(body) catch { case e: Throwable => Left(e) }
      val sec = (System.nanoTime() - t0) / 1e9
      GraftBridge.drainListenerBus(sc)
      (out, Rep(sec, meter.jobs.get, meter.bytes.get, meter.spill.get, out.isRight))
    } finally sc.removeSparkListener(meter)
  }

  /** An entry's measurement: the kept rep set, the fastest rep of every
    * set run, and whether every rep of every set succeeded.
    */
  final case class Record(kept: Vector[Rep], fastest: Rep, ok: Boolean) {
    /** The rep with the median wall time: its jobs and bytes ride along,
      * so the reported triple is one real run, not a mix.
      */
    def median: Rep = kept.sortBy(_.sec).apply(kept.size / 2)

    /** The retry rule: a median over 1.5x the fastest wall, at the fastest
      * rep's jobs and within 10% (or 1 MiB) of its bytes, is load, not a
      * plan change. The fastest rep may come from a discarded set, so a
      * bimodal plan keeps its honest median.
      */
    def noisy: Boolean = {
      val med = median
      ok && fastest.sec > 0 && med.sec > 1.5 * fastest.sec && med.jobs == fastest.jobs &&
        math.abs(med.scanBytes - fastest.scanBytes) <= math.max(fastest.scanBytes / 10, 1L << 20)
    }

    /** Folds in a re-measured set: the lower-median set is kept, while the
      * fastest rep and the failure flag span every set, so a slow entry
      * cannot launder its number through a retry.
      */
    def retried(reps: Vector[Rep]): Record = {
      val next = Record(reps)
      Record(if (next.median.sec < median.sec) reps else kept,
        if (next.fastest.sec < fastest.sec) next.fastest else fastest, ok && next.ok)
    }
  }

  object Record {
    def apply(reps: Vector[Rep]): Record = Record(reps, reps.minBy(_.sec), reps.forall(_.ok))
  }

  /** Runs `reps` reps of every entry INTERLEAVED (rep 1 of each entry, then
    * rep 2, ...), so a transient load spike degrades one rep of many
    * entries, which the median absorbs. Then up to two retry rounds
    * re-measure the entries whose record is [[Record.noisy]]. Every rep is
    * swept after; one failed rep fails its entry. Names must be distinct.
    */
  def repped(spark: SparkSession, entries: Seq[(String, () => Any)],
             reps: Int): Seq[(String, Record)] = {
    def runAll(es: Seq[(String, () => Any)]): Map[String, Vector[Rep]] = {
      val byName = mutable.Map.empty[String, Vector[Rep]].withDefaultValue(Vector.empty)
      for (_ <- 1 to reps; (name, body) <- es) {
        val (out, r) = metered(spark)(body())
        out.swap.foreach(e => System.err.println(s"[measure] $name: ${e.getMessage}"))
        sweep(spark)
        byName(name) = byName(name) :+ r
      }
      byName.toMap
    }
    val records = mutable.Map.from(runAll(entries).map { case (n, rs) => n -> Record(rs) })
    for (round <- 1 to 2) {
      val noisy = entries.filter { case (n, _) => records(n).noisy }
      if (noisy.nonEmpty) {
        System.err.println(s"[measure] retry round $round, noisy medians: ${noisy.map(_._1).mkString(",")}")
        for ((n, rs) <- runAll(noisy)) records(n) = records(n).retried(rs)
      }
    }
    entries.map { case (n, _) => n -> records(n) }
  }
}
