package graft

import scala.collection.mutable

import graft.Measure.{Record, Rep}

class MeasureSpec extends SparkSpec {

  private def rep(sec: Double, jobs: Long = 3, scanBytes: Long = 10L << 20) =
    Rep(sec, jobs, scanBytes, spillBytes = 0, ok = true)

  test("retry rule: a noisy median at equal jobs and bytes retries, a plan change does not") {
    // median 1.6x the min at equal jobs and bytes is load: retry
    assert(Record(Vector(rep(1.0), rep(1.6), rep(1.7))).noisy)
    // the same walls with the median at different jobs is a plan change
    assert(!Record(Vector(rep(1.0), rep(1.6, jobs = 4), rep(1.7))).noisy)
    // so are bytes beyond 10% (and 1 MiB) of the min's
    assert(!Record(Vector(rep(1.0), rep(1.6, scanBytes = 12L << 20), rep(1.7))).noisy)
    // under 1.5x is not noisy; a failed rep never retries
    assert(!Record(Vector(rep(1.0), rep(1.4), rep(1.7))).noisy)
    assert(!Record(Vector(rep(1.0), rep(1.6).copy(ok = false), rep(1.7))).noisy)
  }

  test("retry rule: the jobs/bytes check uses the global-min rep, even from a discarded set") {
    val first = Record(Vector(rep(0.5, jobs = 4), rep(3.0), rep(3.0)))
    // the retried set's own min matches its median's jobs, but the fastest
    // rep of every set run has other jobs: a bimodal plan, not noise
    val kept = first.retried(Vector(rep(1.0), rep(1.6), rep(1.7)))
    assert(kept.median == rep(1.6) && kept.fastest == rep(0.5, jobs = 4))
    assert(Record(kept.kept).noisy && !kept.noisy)
    // and the other way round: a set whose own min differs retries when
    // the global min matches the median
    val other = Record(Vector(rep(0.9), rep(2.0), rep(2.0))).retried(
      Vector(rep(1.0, jobs = 4), rep(1.6), rep(1.7)))
    assert(other.fastest == rep(0.9) && !Record(other.kept).noisy && other.noisy)
    // the lower-median set is kept, the failure flag spans every set
    val failedThenClean = Record(Vector(rep(1.0), rep(2.0).copy(ok = false), rep(2.0)))
      .retried(Vector(rep(1.0), rep(1.1), rep(1.2)))
    assert(failedThenClean.median == rep(1.1) && !failedThenClean.ok)
  }

  test("repped interleaves entries, fails an entry on one throw, reports the median rep's jobs") {
    val log = mutable.ArrayBuffer.empty[String]
    var bRuns = 0
    var cRuns = 0
    def jobs(n: Int): Unit = (1 to n).foreach(_ => spark.sparkContext.parallelize(Seq(1), 1).count())
    jobs(1) // a cold first job must not reorder b's reps
    val out = Measure.repped(spark, Seq(
      "a" -> (() => log += "a"),
      // rep k runs k jobs and sleeps k·400 ms, so rep 2 is the median
      "b" -> (() => { log += "b"; bRuns += 1; jobs(bRuns); Thread.sleep(bRuns * 400L) }),
      "c" -> (() => { log += "c"; cRuns += 1; if (cRuns == 2) sys.error("rep 2 fails"); jobs(1) })
    ), reps = 3).toMap
    assert(log.take(9) == Seq.fill(3)(Seq("a", "b", "c")).flatten)
    assert(out("a").ok && out("b").ok && !out("c").ok)
    assert(out("c").kept.map(_.ok) == Vector(true, false, true))
    assert(out("b").median.jobs == 2 && out("b").fastest.jobs == 1)
    assert(out("c").median.jobs <= 1)
  }
}
