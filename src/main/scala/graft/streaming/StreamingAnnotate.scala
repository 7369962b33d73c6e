package graft.streaming

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.extract.WikiPageParser
import graft.model.WebPage
import graft.spot.AhoCorasick

/**
 * Structured-Streaming ingest path: the reference is batch-only (SURVEY.md
 * §2.9), but a continuous crawl feed is the natural 100 TB deployment of
 * this engine — the spotting stage is map-only (broadcast automaton), so
 * it lifts onto `readStream` unchanged; model tables stay batch-built and
 * are joined statically (stream-static joins need no watermark).
 *
 * Components:
 *  - [[spotStream]]: streaming web_pages → spot rows (extract + A-C match
 *    per micro-batch; same code path as batch Spotter);
 *  - [[windowedSpotCounts]]: event-time windowed surface-form counts with
 *    a watermark (late crawl records beyond the watermark are dropped);
 *  - [[runningUrlStats]]: per-url running spot counts via
 *    mapGroupsWithState (custom state, processing-time timeout);
 *  - [[annotateStream]]: end-to-end streaming annotation — the full
 *    spot/candidate/score dataflow per micro-batch via foreachBatch.
 */
object StreamingAnnotate {

  final case class StreamSpot(url: String, warc_ts: java.sql.Timestamp,
                              para_idx: Int, offset: Int, sf: String)

  /** Streaming Dataset[WebPage] → Dataset[StreamSpot]; map-only, so the
   *  stream needs no shuffle before the sink/agg. */
  def spotStream(pages: Dataset[WebPage], bc: Broadcast[AhoCorasick]): Dataset[StreamSpot] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.mapPartitions { it =>
      val ac = bc.value
      it.flatMap { p =>
        val paras = WikiPageParser.parsePage(new String(p.html, "UTF-8"))
        paras.iterator.zipWithIndex.flatMap { case (para, i) =>
          ac.findNonOverlapping(para.text).iterator.map { m =>
            StreamSpot(p.url, p.warc_ts, i + 1, m.start,
              para.text.substring(m.start, m.end))
          }
        }
      }
    }
  }

  /** Event-time windowed counts per surface form with watermarking. */
  def windowedSpotCounts(spots: Dataset[StreamSpot],
                         window_ : String = "1 hour",
                         watermark: String = "2 hours"): DataFrame =
    spots.toDF()
      .withWatermark("warc_ts", watermark)
      .groupBy(window(col("warc_ts"), window_), col("sf"))
      .agg(count(lit(1)).as("n_spots"))

  final case class UrlStats(url: String, n_spots: Long, n_batches: Long)

  /** Custom streaming state: per-url cumulative spot counts
   *  (KeyValueGroupedDataset.mapGroupsWithState).
   *
   *  `idleTimeout = Some(d)` evicts urls idle past `d` via a
   *  processing-time timeout — REQUIRED on a continuous crawl feed, where
   *  the url key space is unbounded and untimed state grows without
   *  bound. Pair it with a non-zero `Trigger.ProcessingTime` on the
   *  query: registered timeouts make the micro-batch engine run
   *  timeout-check batches every trigger interval, and the default 0 ms
   *  trigger then busy-loops empty batches (and `processAllAvailable`
   *  never quiesces — which is why tests on finite MemoryStreams use the
   *  default).
   *
   *  `idleTimeout = None` (default) keeps state for every url seen —
   *  only safe for bounded replays/backfills. */
  def runningUrlStats(spots: Dataset[StreamSpot],
                      idleTimeout: Option[String] = None): Dataset[UrlStats] = {
    val spark = spots.sparkSession
    import spark.implicits._
    val timeoutConf = if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
                      else GroupStateTimeout.NoTimeout()
    spots.groupByKey(_.url)
      .mapGroupsWithState[UrlStats, UrlStats](timeoutConf) {
        (url, it, state: GroupState[UrlStats]) =>
          if (state.hasTimedOut) {
            // idle url evicted; emit the final running count and drop state
            val last = state.getOption.getOrElse(UrlStats(url, 0L, 0L))
            state.remove()
            last
          } else {
            val prev = state.getOption.getOrElse(UrlStats(url, 0L, 0L))
            val next = UrlStats(url, prev.n_spots + it.size, prev.n_batches + 1)
            state.update(next)
            idleTimeout.foreach(state.setTimeoutDuration)
            next
          }
      }
  }

  /**
   * End-to-end streaming annotation: each micro-batch of crawled pages
   * runs the FULL batch scoring dataflow (extract → spot → candidates →
   * generative scoring → best-per-spot) against the static model via
   * `foreachBatch` — the stream-static pattern for dataflows Structured
   * Streaming cannot express incrementally (context scoring aggregates
   * over the batch's own paragraphs; that state is per-batch by
   * definition, so no cross-batch watermarking is needed and results
   * equal the batch annotator on the same pages, asserted in
   * StreamingSpec).
   */
  def annotateStream(pages: Dataset[WebPage], m: graft.pipeline.Model)
                    (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    scoredBatches(pages, m) { (spark, scored, batchId) =>
      sink(graft.disambig.Disambiguator.best(scored), batchId)
    }

  /** The shared micro-batch scoring loop behind [[annotateStream]] and
    * [[tripleStream]]: each batch runs extract → spot → the full batch
    * scoring dataflow; `emit` decides what leaves the batch. */
  private def scoredBatches(pages: Dataset[WebPage], m: graft.pipeline.Model)
                           (emit: (org.apache.spark.sql.SparkSession, DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = pages.sparkSession
    pages.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[WebPage], batchId: Long) =>
        val paras = graft.extract.Extractor.paragraphs(
          graft.extract.Extractor.extracted(batch))
        val scored = graft.pipeline.Annotate.scoredOn(spark, m, paras)
        emit(spark, scored, batchId)
      }
      .start()
  }

  /**
   * Streaming KG construction end to end: crawl feed → extract → spot →
   * score → filter chain (confidence/support/coref, the batch server
   * defaults) → page-mentions-entity TRIPLES per micro-batch — the
   * north-star output emitted continuously. Only the mention edges are
   * per-batch: the model-derived edges (entity types, redirects/sameAs)
   * are STATIC dimensions of the model the stream annotates against —
   * re-emitting them every micro-batch would duplicate rows; the batch
   * pipeline writes them once ([[graft.triples.Triples.all]]). Because
   * every page row carries its whole text, the filter chain (incl. F6
   * coreference, which is url-local) sees complete documents per batch
   * and the emitted triples equal the batch path on the same pages
   * (asserted in StreamingSpec).
   */
  def tripleStream(pages: Dataset[WebPage], m: graft.pipeline.Model,
                   conf: Double = 0.1, minSupport: Long = 10)
                  (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    scoredBatches(pages, m) { (spark, scored, batchId) =>
      val anns = graft.pipeline.Annotate.annotationsFrom(spark, scored, conf, minSupport)
      sink(graft.triples.Triples.mentions(anns).toDF(), batchId)
    }

  /** Wire a spot stream to an in-memory sink (tests / smoke checks). */
  def startMemorySink(df: DataFrame, queryName: String,
                      outputMode: OutputMode = OutputMode.Update()) =
    df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .start()
}
