package perfbench

import org.apache.spark.sql.Dataset
import graft.disambig.Disambiguator
import graft.extract.Extractor
import graft.filter.AnnotationFilters
import graft.model.{AnnotationRow, ParagraphRow, WebPage}
import graft.pipeline.{Annotate, Model}
import graft.spot.Spotter
import graft.triples.Triples

/**
 * annotate-warm: the served read path. Set-up builds a model once with
 * `Annotate.buildModel` over a WideCorpus; each request of a closed loop
 * with one client annotates the same 1,000 pages, which the model never saw
 * (extract -> scoredOn with default arguments, so the automaton is built
 * per call -> annotationsFrom -> Triples.mentions -> parquet). The
 * model's cached tables are filled during set-up.
 */
final class AnnotateWarm(b: Bench) {
  import b.spark
  import spark.implicits._

  val ModelPages = 1200
  val BatchPages = 1000
  val Entities = 20000
  /** Request pages start past every model page, so the model never saw them. */
  val FirstRequestPage = 1000000L

  private val corpus = WideCorpus(b.args.seed, Entities)
  private val input = s"${b.work}/input"

  /** Paragraphs of the request pages. */
  private def paragraphs(): Dataset[ParagraphRow] =
    Extractor.paragraphs(Extractor.extracted(
      spark.read.parquet(b.input(s"$input/request")).as[WebPage]))

  /** One request: the pages annotated and their mention triples written to `out`. */
  private def request(m: Model, out: String): Unit = {
    val scored = Annotate.scoredOn(spark, m, paragraphs())
    Triples.mentions(Annotate.annotationsFrom(spark, scored)).write.parquet(out)
  }

  def run(): Unit = {
    val t0 = System.nanoTime()
    corpus.webPages(spark, ModelPages).write.parquet(s"$input/model")
    corpus.webPages(spark, BatchPages, FirstRequestPage).write.parquet(s"$input/request")
    corpus.writeNt(spark, input)
    val nt = b.own(WideCorpus.readNt(spark, input))
    val m = Annotate.buildModel(spark, spark.read.parquet(s"$input/model").as[WebPage],
      nt.redirects, nt.disambiguations, nt.types)
    // buildModel caches most tables lazily: fill them now, so that no
    // model-build work lands in a timed request
    Seq(m.paragraphs, m.occurrences, m.closure, m.surfaceForms, m.resources, m.candidates,
      m.tokenTypes, m.entityContexts).foreach(_.write.format("noop").mode("overwrite").save())
    val setupS = b.sessionS + (System.nanoTime() - t0) / 1e9
    if (b.args.trace) traced(m) else untraced(m, setupS)
  }

  /** Request `name`, timed and checked. */
  private def op(m: Model, name: String): Option[Op] =
    b.attempt(s"request $name") {
      val out = s"${b.work}/runs/req-$name"
      val s = b.timed(request(m, out))
      val check = b.checkOf(spark.read.parquet(out))
      val (jobs, shuffle) = b.jobsAndShuffle(s)
      val o = Op(s, check, jobs, shuffle, b.duMb(out), b.cacheMb(), b.heapMb())
      b.deleteDir(out)
      (o, b.matches(check))
    }

  private def untraced(m: Model, setupS: Double): Unit = {
    val ops = Seq.newBuilder[Op]
    val loopStart = System.nanoTime()
    var i, ok = 0
    while (b.keepGoing(loopStart, ok)) {
      op(m, i.toString).foreach { o => ops += o; ok += 1 }
      i += 1
    }
    b.reportOps(setupS, ops.result(), BatchPages)
  }

  /**
   * A warm-up request and one untraced request, then the same request
   * decomposed into the served-path layers: each layer runs under its own
   * span (a local property its jobs carry) and its output is cached and
   * materialized, so a layer's jobs do its own work only. The traced
   * output must equal the untraced one, which checks that the
   * decomposition is faithful; `all.trace_overhead_s` is the traced
   * request minus the untraced one.
   */
  private def traced(m: Model): Unit = {
    val warmup = op(m, "warmup")
    val plain = op(m, "plain")
    val sc = spark.sparkContext
    val walls = scala.collection.mutable.LinkedHashMap[String, Double]()
    val cached = scala.collection.mutable.ArrayBuffer[Dataset[_]]()
    def span[T](name: String)(body: => T): T = {
      sc.setLocalProperty(Props.Span, name)
      val t0 = System.nanoTime()
      try body finally {
        walls(name) = walls.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
        sc.setLocalProperty(Props.Span, null)
      }
    }
    def mat[T](ds: Dataset[T]): Dataset[T] = {
      ds.cache(); cached += ds
      ds.write.format("noop").mode("overwrite").save()
      ds
    }
    val out = s"${b.work}/runs/traced"
    val result = b.attempt("traced request") {
      var ds = Map.empty[String, Dataset[_]]
      val s = b.timed {
        val paras = span("extract.paragraphs")(mat(paragraphs()))
        val bc = span("spot.automaton")(sc.broadcast(Spotter.buildAutomaton(m.surfaceForms)))
        val raw = span("spot.spots")(mat(Spotter.spots(paras, bc)))
        val gated = span("spot.spots")(mat(Spotter.gatedSpots(raw, m.surfaceForms)))
        val cands = span("disambig.candidates")(
          mat(Disambiguator.spotCandidates(gated, m.surfaceForms, m.candidates)))
        val docTokens = span("disambig.doc_tokens")(
          mat(Disambiguator.docTokenHistogram(paras, m.tokenTypes, m.stemmer)))
        val scored = span("disambig.scored")(mat(Disambiguator.scored(
          cands, docTokens, m.entityContexts, m.resources, m.totals)))
        val best = span("filter.chain")(mat(Disambiguator.best(scored).as[AnnotationRow]))
        val kept = span("filter.chain")(mat(AnnotationFilters.standardChain(best)))
        span("triples.mentions")(Triples.mentions(kept).write.parquet(out))
        ds = Map("extract.paragraphs.rows" -> paras, "spot.automaton.rows" -> m.surfaceForms,
          "raw" -> raw, "spot.spots.rows" -> gated, "disambig.candidates.rows" -> cands,
          "spots_with_candidates" -> cands.select("url", "para_idx", "offset").distinct(),
          "disambig.doc_tokens.rows" -> docTokens, "disambig.scored.rows" -> scored,
          "best" -> best, "filter.chain.rows" -> kept)
      }
      rows = b.own(ds.map { case (k, d) => k -> d.count().toDouble })
      val check = b.checkOf(spark.read.parquet(out))
      (s, plain.exists(_.check == check))
    }
    cached.foreach(_.unpersist())
    b.deleteDir(out)
    org.apache.spark.sql.BenchAccess.drain(sc)
    val metrics = result.map { s =>
      val jobs = b.recorder.programJobs(s.fromMs, s.toMs)
      val out = Layers.attribute(b.recorder, jobs, j => Option(j.span), s.seconds, b.cores)
      walls.foreach { case (l, w) => out(s"$l.wall_s") = w }
      rows.foreach { case (k, v) if k.endsWith(".rows") => out(k) = v; case _ => }
      out("triples.mentions.rows") = plain.map(_.check.count.toDouble).getOrElse(0.0)
      def ratio(a: String, z: String) = if (rows(z) > 0) rows(a) / rows(z) else 0.0
      out("spot.gate_pass_ratio") = ratio("spot.spots.rows", "raw")
      out("disambig.nil_ratio") = 1.0 - ratio("best", "spots_with_candidates")
      out("filter.kept_ratio") = ratio("filter.chain.rows", "best")
      plain.foreach(p => out("all.trace_overhead_s") = s.seconds - p.s.seconds)
      out.toMap
    }.getOrElse(Map.empty[String, Double])
    b.reportLayers(metrics, correct = warmup.isDefined && plain.isDefined && result.isDefined)
  }

  private var rows: Map[String, Double] = Map.empty
}
