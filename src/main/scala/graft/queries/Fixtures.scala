package graft.queries

import org.apache.spark.sql.SparkSession

import graft.ops.Multimodal
import graft.sources.Tables

/** Media-fixture synthesis, built ONCE PER JVM per path and reused: the
  * media queries (q129/q145/q194/q195/q230/q240) measure DECODE / hash /
  * frame work — synthesizing their own input is not the measured op, and
  * re-writing it every bench rep both inflated their medians and made
  * their sf1 ramp rows read superlinear (round-10 verdict #5: 12.2× and
  * 5.6× "ramps" that were fixture-build artifacts). Bench pre-builds
  * these untimed and reports each build as its own
  * `qNNN_fixture_build_sec` field (the q93 index discipline); Verify and
  * specs build lazily on first use. Content is deterministic per
  * (fixture, sf), so build-once-read-many is semantics-preserving.
  */
object Fixtures {

  private val built = scala.collection.mutable.Set.empty[String]

  /** Run `build` the first time `path` is requested in this JVM. */
  def ensure(path: String)(build: => Unit): String = synchronized {
    if (!built.contains(path)) { build; built += path }
    path
  }

  /** Absolute path of `target/` under the working directory: where the
    * round-trip and fixture queries write their files. Their oracles name
    * it with the `__TARGET__` token, which Verify replaces with this path. */
  val targetDir: String = new java.io.File("target").getAbsolutePath

  private def sfName(d: String): String = new java.io.File(d).getName

  /** WAV blobs + stored samples (q129 decode, q145 decimate). */
  def audioMedia(s: SparkSession, d: String): String = {
    val out = s"$targetDir/graft_audio/${sfName(d)}/media"
    ensure(out) {
      Multimodal.wavFromTones(Multimodal.tonesFromDocuments(Tables.documents(s, d)))
        .write.mode("overwrite").parquet(out)
    }
  }

  /** Same WAV fixture under q230's own path (frame features). */
  def audioFramesMedia(s: SparkSession, d: String): String = {
    val out = s"$targetDir/graft_audio_frames/${sfName(d)}/media"
    ensure(out) {
      Multimodal.wavFromTones(Multimodal.tonesFromDocuments(Tables.documents(s, d)))
        .write.mode("overwrite").parquet(out)
    }
  }

  /** PNG blobs + stored luminance (q194 dHash, q195 near-dup). */
  def imageMedia(s: SparkSession, d: String): String = {
    val out = s"$targetDir/graft_img/${sfName(d)}/media"
    ensure(out) {
      Multimodal.pngLumaFixture(Tables.documents(s, d))
        .write.mode("overwrite").parquet(out)
    }
  }

  /** MP4 blobs + generation-time expectations (q240). */
  def mp4Media(s: SparkSession, d: String): String = {
    val out = s"$targetDir/graft_mp4/${sfName(d)}/media"
    ensure(out) {
      Multimodal.mp4Fixture(Tables.documents(s, d))
        .write.mode("overwrite").parquet(out)
    }
  }
}
