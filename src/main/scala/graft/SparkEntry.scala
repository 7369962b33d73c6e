package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.Annotate

/**
 * Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
 *
 * `entry` runs the flagship minimum slice (SURVEY.md §7.2): synthetic
 * corpus → model build → annotate → page-mentions-entity triples.
 *
 * `queries` exposes one DataFrame per implemented operator family; where
 * the operator is ANSI-expressible over the driver's parquet tables the
 * matching `oracleSql` entry lets DuckDB cross-check values; pipeline
 * stages over the synthetic corpus are deterministic but UDF-driven, so
 * they get the rows-only check.
 */
object SparkEntry {

  /** Flagship query; driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    val m = Annotate.syntheticModel(spark, nDocs = 30, withTotalCounts = false)
    graft.triples.Triples.all(
      Annotate.annotationsFrom(spark, Annotate.scoredOn(spark, m, m.paragraphs)),
      m.resources, m.closure).toDF()
  }

  // Lazily built shared model per (session, size) so each query entry
  // doesn't rebuild the corpus model from scratch. The expensive derived
  // stages (gated spots, the scored candidate dataflow) are cached too —
  // six queries consume `scored`, and recomputing its join DAG per query
  // would dominate Verify/Bench wall-clock.
  @volatile private var cachedModel: Option[(SparkSession, graft.pipeline.Model)] = None
  @volatile private var cachedRaw: Option[DataFrame] = None
  @volatile private var cachedGated: Option[DataFrame] = None
  @volatile private var cachedScored: Option[DataFrame] = None
  private[graft] def model(spark: SparkSession): graft.pipeline.Model = synchronized {
    cachedModel match {
      case Some((s, m)) if s eq spark => m
      case _ =>
        val m = Annotate.syntheticModel(spark, nDocs = 120)
        cachedModel = Some((spark, m))
        cachedRaw = None
        cachedGated = None
        cachedScored = None
        m
    }
  }

  /** Raw (pre-gate) leftmost-longest spots — emitted as `p_raw_spots` so
    * the DuckDB oracles can re-derive both spot gates from it. */
  private[graft] def rawSpots(spark: SparkSession): DataFrame = synchronized {
    val m = model(spark)
    cachedRaw.getOrElse {
      val r = graft.spot.Spotter.spots(m.paragraphs, m.automaton).toDF().cache()
      cachedRaw = Some(r)
      r
    }
  }

  private[graft] def gated(spark: SparkSession): DataFrame = synchronized {
    val m = model(spark)
    cachedGated.getOrElse {
      val g = graft.spot.Spotter.gatedSpots(
        rawSpots(spark).as[graft.model.SpotRow](
          org.apache.spark.sql.Encoders.product[graft.model.SpotRow]),
        m.surfaceForms).cache()
      cachedGated = Some(g)
      g
    }
  }

  private[graft] def scored(spark: SparkSession): DataFrame = synchronized {
    val m = model(spark)
    cachedScored.getOrElse {
      val s = Annotate.scoredFromGated(spark, m, m.paragraphs, gated(spark)).cache()
      cachedScored = Some(s)
      s
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    PipelineQueries.queries ++ RelationalQueries.queries ++ TextOpsQueries.queries

  /** Pipeline oracles reference already-emitted parquet via
    * [[PipelineQueries.OutPlaceholder]]; Verify substitutes the real
    * output dir before writing oracle_sql.json. */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracleSql ++ TextOpsQueries.oracleSql ++ PipelineQueries.oracleSql
}
