package graft.pipeline

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import graft.model._
import graft.extract.Extractor
import graft.modelbuild.ModelBuild
import graft.disambig.Disambiguator
import graft.filter.AnnotationFilters
import graft.sources.{NTriples, SyntheticCorpus}
import graft.spot.{AhoCorasick, Spotter}
import graft.triples.Triples
import graft.util.TextUtil.{IdentityStemmer, Stemmer}

/**
 * End-to-end facade: model build over a web_pages corpus, then the
 * flagship annotate path (§3.1 restatement in SURVEY.md) —
 * web_pages → extract → paragraphs → spots → candidates → scored →
 * annotations → filters → triples.
 *
 * Holds the intermediate model tables so tests, SparkEntry.queries,
 * Verify and Bench can expose any stage as a DataFrame.
 */
final case class Model(
    paragraphs: Dataset[ParagraphRow],
    occurrences: Dataset[OccurrenceRow],
    closure: DataFrame,
    surfaceForms: Dataset[SurfaceFormRow],
    resources: Dataset[ResourceRow],
    candidates: Dataset[CandidateRow],
    tokenTypes: Dataset[TokenTypeRow],
    entityContexts: Dataset[EntityContextRow],
    totals: ModelBuild.Totals,
    // T3: the stemmer the model was BUILT with — annotate-time
    // tokenization must use the same one or token ids won't line up
    // (reference threads one Stemmer from CreateSpotlightModel through
    // both index build and request tokenization, :223-224)
    stemmer: Stemmer = IdentityStemmer) {

  /** The spotting dictionary: one automaton over the gated surface forms,
   *  built and broadcast on first use and shared by every annotate call
   *  against this model (batch, eval and streaming micro-batches). */
  lazy val automaton: Broadcast[AhoCorasick] =
    surfaceForms.sparkSession.sparkContext.broadcast(Spotter.buildAutomaton(surfaceForms))
}

object Annotate {

  /** How the model-build DAG holds a table: `hold(stage, eager)(compute)`
   *  returns the held table. `eager` marks a table whose inputs the DAG
   *  drops next, so it must be materialized when `hold` returns. */
  private[graft] type Hold = (String, Boolean) => (=> DataFrame) => DataFrame

  /** Cache each table; materialize eager ones with a `count()`. */
  private[graft] val inMemory: Hold = (_, eager) => compute => {
    val df = compute.cache()
    if (eager) df.count()
    df
  }

  /** Build all model tables from a corpus + graph dumps, cached in memory. */
  def buildModel(spark: SparkSession,
                 pages: Dataset[WebPage],
                 redirectsNt: Seq[String],
                 disambiguationsNt: Seq[String],
                 instanceTypesNt: Seq[String],
                 withTotalCounts: Boolean = true,
                 stemmer: Stemmer = IdentityStemmer): Model =
    modelDag(spark, pages, redirectsNt, disambiguationsNt, instanceTypesNt,
      withTotalCounts, stemmer, inMemory)._1

  /**
   * The model-build DAG, defined once for both [[buildModel]] (tables
   * cached in memory) and [[Runner.run]] (tables committed as stages).
   * Each table is held through `hold` under its stage name, in this order:
   *
   *   paragraphs, occurrences  <- web_pages
   *   redirect_closure         <- redirects
   *   resolved_occurrences     <- occurrences, redirect_closure, disambiguations
   *   surface_forms            <- occurrences (+ raw totals spotted in paragraphs)
   *   resources                <- resolved_occurrences, instance types
   *   candidates               <- resolved_occurrences, surface_forms, resources
   *   token_types              <- paragraphs, surface_forms
   *   entity_contexts          <- resolved_occurrences, resources, token_types
   *
   * Returns the model and the resolved occurrences (the gold the Runner
   * trains its similarity thresholds on).
   */
  private[graft] def modelDag(spark: SparkSession,
                              pages: Dataset[WebPage],
                              redirectsNt: Seq[String],
                              disambiguationsNt: Seq[String],
                              instanceTypesNt: Seq[String],
                              withTotalCounts: Boolean,
                              stemmer: Stemmer,
                              hold: Hold): (Model, DataFrame) = {
    import spark.implicits._
    def held[T: Encoder](stage: String, eager: Boolean = false)(ds: => Dataset[T]) =
      hold(stage, eager)(ds.toDF()).as[T]
    def nt(lines: Seq[String]) =
      NTriples.stripNamespace(NTriples.fromStrings(spark, lines), "http://dbpedia.org/resource/")
    val instanceTypes = nt(instanceTypesNt)
      .withColumn("obj", regexp_replace(
        regexp_replace(col("obj"), "http://dbpedia.org/ontology/", "DBpedia:"),
        "http://schema.org/", "Schema:"))

    // pages feeds both the text-extraction path and the link-occurrence
    // path; cache so the (expensive) markup parse isn't run twice, then
    // drop the raw-HTML cache once both parsed dependents are held:
    // repeated model builds in one long-lived session must not accumulate
    // cached page bytes (they are never read again past this point).
    pages.cache()
    val paragraphs = held("paragraphs", eager = true)(Extractor.paragraphs(Extractor.extracted(pages)))
    val occurrences = held("occurrences", eager = true)(Extractor.occurrences(pages))
    pages.unpersist()

    val closure = hold("redirect_closure", false)(ModelBuild.redirectClosure(nt(redirectsNt)))
    val resolved = hold("resolved_occurrences", false) {
      ModelBuild.resolvedOccurrences(occurrences, closure, nt(disambiguationsNt))
    }

    var preCorrection: Option[DataFrame] = None
    val surfaceForms = held("surface_forms", eager = withTotalCounts) {
      // first pass without raw totals (needed to build the full dictionary)
      val firstPass = ModelBuild.surfaceForms(occurrences, None)
      if (!withTotalCounts) firstPass
      else {
        val bc = spark.sparkContext.broadcast(
          Spotter.buildAutomaton(firstPass, minAnnotationProbability = 0.0))
        // A7: longest-annotation correction — annotated occurrences of a
        // longer sf also raw-matched its sub-ngrams; remove that inflation
        // so annotationProbability isn't deflated for nested forms
        // (reference: MemoryStoreIndexer.scala:69-109). The pre-correction
        // table is cached: the correction self-joins it, and without the
        // cache each side would re-run the whole totalCounts spotting chain.
        val withTotals = ModelBuild.surfaceForms(
          occurrences, Some(Spotter.totalCounts(paragraphs, bc))).cache()
        preCorrection = Some(withTotals.toDF())
        ModelBuild.ngramTotalCorrection(withTotals)
      }
    }
    // the corrected table is materialized: drop the intermediate, so
    // repeated model builds in one long-lived session don't accumulate
    // cached pre-correction sf tables
    preCorrection.foreach(_.unpersist())

    val resources = held("resources")(ModelBuild.resources(resolved, instanceTypes))
    val candidates = held("candidates")(ModelBuild.candidates(resolved, surfaceForms, resources))
    val tokenTypes = held("token_types")(ModelBuild.tokenTypes(paragraphs, surfaceForms, stemmer))
    val entityContexts = held("entity_contexts")(
      ModelBuild.entityContexts(resolved, resources, tokenTypes, stem = stemmer))
    val totals = ModelBuild.totals(surfaceForms, resources, tokenTypes)

    (Model(paragraphs, occurrences, closure, surfaceForms, resources, candidates,
      tokenTypes, entityContexts, totals, stemmer), resolved)
  }

  /**
   * D1 MAX_CONTEXT (= 250, DBTwoStepDisambiguator.scala:71): the
   * reference slices a paragraph whose token stream exceeds the cap into
   * windows and disambiguates each occurrence against its own window's
   * tokens (bestK:89-117), WITHOUT rewriting offsets. The Spark-native
   * equivalent: spots carry a `win` index assigned in the spotting map
   * pass ([[Spotter.spots]]), the token histogram is keyed per
   * (url, para_idx, win) ([[Disambiguator.docTokenHistogram]]), and the
   * context join matches them — so a megabyte-long spam paragraph
   * cannot multiply its full histogram into every candidate of every
   * spot it contains, while every emitted annotation keeps its ORIGINAL
   * (url, para_idx, offset) key (round-2 advice: the previous
   * re-paragraphing approach leaked synthetic keys to eval joins).
   *
   * Window PLACEMENT defaults to a token-aligned approximation: the
   * reference accumulates whole SENTENCES until ≥250 tokens (its windows
   * are sentence-aligned and may overshoot the cap; its oversize gate
   * even counts sentences), while graft's default cuts fixed 250-token
   * windows, possibly mid-sentence. The two assignments differ only for
   * paragraphs whose token stream exceeds the cap — oversized crawl
   * text; every bundled corpus paragraph fits one window, where behavior
   * is byte-identical. Token alignment keeps `win` recomputable by the
   * DuckDB oracle (`pos // 250` over the emitted token stream) and needs
   * no sentence segmentation in the hot map pass. Callers wanting
   * reference-exact placement on over-cap paragraphs set
   * `Disambiguator.Config(sentenceAlignedWindows = true)`, which routes
   * both the spot tagging and the histogram keying through
   * [[graft.util.TextUtil.sentenceWindowStarts]].
   */
  val MaxContextTokens = 250

  /** The served-request path: annotate a paragraph set — the model's
   *  own (`m.paragraphs`) or any other — against a built model (the
   *  reference's SpotlightInterface.annotate on posted text,
   *  rest/.../SpotlightInterface.java:120-160 — spot, gate, candidates,
   *  score — but batched over a Dataset instead of one request at a
   *  time), MAX_CONTEXT-capped. Spots with the model's own automaton;
   *  annotations come back under the caller's own (url, para_idx,
   *  offset) keys. */
  def scoredOn(spark: SparkSession, m: Model, paragraphs: Dataset[ParagraphRow],
               cfg: Disambiguator.Config = Disambiguator.Config(),
               maxContextTokens: Int = MaxContextTokens): DataFrame = {
    val gated = Spotter.gatedSpots(
      Spotter.spots(paragraphs, m.automaton, maxContextTokens, cfg.sentenceAlignedWindows),
      m.surfaceForms)
    scoredFromGated(spark, m, paragraphs, gated, cfg, maxContextTokens)
  }

  /** Same, from an already-computed (possibly cached) gated-spots table
   *  over `paragraphs` — skips the spot stage when the caller holds it.
   *  The gated spots must carry the `win` column produced by
   *  [[Spotter.spots]] with the SAME maxContextTokens AND the same
   *  `cfg.sentenceAlignedWindows` placement (both default to
   *  [[MaxContextTokens]] / token-aligned). */
  def scoredFromGated(spark: SparkSession, m: Model, paragraphs: Dataset[ParagraphRow],
                      gated: DataFrame,
                      cfg: Disambiguator.Config = Disambiguator.Config(),
                      maxContextTokens: Int = MaxContextTokens): DataFrame = {
    val spotCands = Disambiguator.spotCandidates(gated, m.surfaceForms, m.candidates, cfg)
    val docTokens = Disambiguator.docTokenHistogram(paragraphs, m.tokenTypes,
      m.stemmer, maxContextTokens, cfg.sentenceAlignedWindows)
    Disambiguator.scored(spotCands, docTokens, m.entityContexts, m.resources, m.totals, cfg)
  }

  /** Filtered best-per-spot annotations from an already-computed scored
   *  DataFrame (callers holding a cached `scored` avoid re-running the
   *  join DAG). */
  def annotationsFrom(spark: SparkSession, scoredDf: DataFrame,
                      conf: Double = 0.1, minSupport: Long = 10,
                      simThresholds: Seq[Double] = Nil): Dataset[AnnotationRow] = {
    import spark.implicits._
    val best = Disambiguator.best(scoredDf).as[AnnotationRow]
    AnnotationFilters.standardChain(best, conf, minSupport, simThresholds)
  }

  /** Full output graph from a cached scored DataFrame. */
  def triplesFrom(spark: SparkSession, m: Model, scoredDf: DataFrame): Dataset[TripleRow] =
    Triples.all(annotationsFrom(spark, scoredDf), m.resources, m.closure)

  /** Convenience: model over the synthetic corpus at a given size. */
  def syntheticModel(spark: SparkSession, nDocs: Long, withTotalCounts: Boolean = true): Model =
    buildModel(spark,
      SyntheticCorpus.webPages(spark, nDocs),
      SyntheticCorpus.redirectsNt,
      SyntheticCorpus.disambiguationsNt,
      SyntheticCorpus.instanceTypesNt,
      withTotalCounts)
}
