package graft.api

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Fns
import graft.operators.SpatialOps
import graft.sources.Synth

/** The north-rule production row: a Common-Crawl-style page
  * (BASELINE-shape columns: url, warc_ts, html, text, lang).
  */
case class Page(url: String, warc_ts: java.sql.Timestamp,
                html: Array[Byte], text: String, lang: String)

/** A fix-coordinate point keyed by pid (1e-7° integer lon/lat). */
case class GeoPoint(pid: Long, lon_fix: Long, lat_fix: Long)

/** A point-in-polygon join hit. */
case class PipHit(pid: Long, poly_id: Int)

/** One cell of the equirect tile histogram. */
case class TileCount(bx: Long, by: Long, cnt: Long)

/** Typed `Dataset[T]` facade over the engine's core operators — the API
  * surface the north star words as "typed Dataset transformations". The
  * engine's internals stay `DataFrame` (schemas there are dynamic:
  * carry-columns, per-query shapes), but a pipeline author gets case-class
  * rows at the seams where type safety pays: sources, join outputs,
  * histograms. Each wrapper is a zero-cost `.as[T]` re-view of the SAME
  * Catalyst plan — TypedApiSpec asserts plan equality, so the typed API
  * can never drift from the oracle-checked operators.
  */
object Typed {

  implicit val pageEnc: Encoder[Page] = Encoders.product[Page]
  implicit val pointEnc: Encoder[GeoPoint] = Encoders.product[GeoPoint]
  implicit val hitEnc: Encoder[PipHit] = Encoders.product[PipHit]
  implicit val tileEnc: Encoder[TileCount] = Encoders.product[TileCount]

  /** The production pages table (synthesized deterministically here; a
    * real deployment points this at its crawl store).
    */
  def pages(spark: SparkSession, sfDir: String): Dataset[Page] =
    Synth.pages(spark, sfDir).as[Page]

  /** The derived point table (one geo-entity per page-row key). */
  def points(spark: SparkSession, sfDir: String): Dataset[GeoPoint] =
    Synth.points(spark, sfDir).as[GeoPoint]

  /** Broadcast cell-cover PIP join (see SpatialOps.pip). */
  def pipJoin(spark: SparkSession, pts: Dataset[GeoPoint]): Dataset[PipHit] =
    SpatialOps.pip(spark, pts.toDF()).select(col("pid"), col("poly_id")).as[PipHit]

  /** Uncapped equirect tile histogram at `level` (the maintainable one —
    * see SpatialOps.applyTileDeltas for its incremental refresh).
    */
  def tileHistogram(pts: Dataset[GeoPoint], level: Int): Dataset[TileCount] =
    pts.toDF()
      .groupBy(Fns.cellX(col("lon_fix"), level).as("bx"),
        Fns.cellY(col("lat_fix"), level).as("by"))
      .agg(count(lit(1)).as("cnt"))
      .as[TileCount]
}
