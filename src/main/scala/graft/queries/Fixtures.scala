package graft.queries

import org.apache.spark.sql.SparkSession

import graft.ops.Multimodal
import graft.sources.Tables

/** Prebuilt query inputs, built ONCE PER JVM per path and reused
  * (DECISIONS.md "Prebuilt query inputs"). Two kinds go through
  * [[ensure]]:
  *  - media fixtures (q129/q145/q194/q195/q230/q240, below): those queries
  *    measure DECODE / hash / frame work, and re-writing their input every
  *    bench rep both inflated their medians and made their sf1 ramp rows
  *    read superlinear (round-10 verdict #5);
  *  - stored state production would persist, each defined beside its
  *    query: q93's corpus index (`DedupQueries.q93Index`), q265's KMV store
  *    (`MedallionQueries.kmvStore`) and q266's IVF index
  *    (`SimilarityQueries.ivfIndex`). Their queries always read the stored
  *    input, so Verify, PlanSpec and Bench run one plan.
  * Every path is keyed by the sf dir's name. Bench builds each input
  * untimed before its reps and reports the build as its own `*_build_sec`
  * field; Verify and specs build on first use. Content is deterministic
  * per (input, sf), so build-once-read-many is semantics-preserving.
  */
object Fixtures {

  private val built = scala.collection.mutable.Set.empty[String]

  /** Run `build` the first time `path` is requested in this JVM. A build
    * that throws is not recorded, so the next request builds again. */
  def ensure(path: String)(build: => Unit): String = synchronized {
    if (!built.contains(path)) { build; built += path }
    path
  }

  /** Absolute path of `target/` under the working directory: where the
    * round-trip and fixture queries write their files. Their oracles name
    * it with the `__TARGET__` token, which Verify replaces with this path. */
  val targetDir: String = new java.io.File("target").getAbsolutePath

  private def sfName(d: String): String = new java.io.File(d).getName

  /** Where the query file `name` for sf dir `d` lives: the stored inputs
    * and the partitioned round trips. */
  def partPath(d: String, name: String): String =
    s"$targetDir/graft_part/${sfName(d)}/$name"

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
