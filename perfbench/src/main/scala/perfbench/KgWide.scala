package perfbench

import java.nio.file.{Files, Paths}
import graft.model.WebPage
import graft.pipeline.{Pipeline, Runner}

/**
 * kg-wide: a cold `Runner.run` into a fresh root over a WideCorpus
 * (20k-entity universe, Zipf links, shared short forms). It is the first
 * build in the JVM, as a batch job submitted on its own runs it.
 */
final class KgWide(b: Bench) {
  import b.spark
  import spark.implicits._

  val Pages = 1200
  val Entities = 20000
  /** Stages whose commit markers a resume removes. */
  val Resumed = Seq("sim_thresholds", "annotations", "triples")

  private val corpus = WideCorpus(b.args.seed, Entities)
  private val input = s"${b.work}/input"
  private var nt = WideCorpus.Nt(Nil, Nil, Nil)

  private def runner(root: String): Unit = {
    val pages = spark.read.parquet(b.input(s"$input/pages")).as[WebPage]
    Runner.run(spark, pages, nt.redirects, nt.disambiguations, nt.types, root)
    ()
  }

  /** Drops the root's bucketed tables and deletes the root. */
  private def cleanup(root: String): Unit = {
    tables(root).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    b.deleteDir(root)
    spark.catalog.clearCache()
  }

  private def tables(root: String): Seq[String] = {
    val prefix = Pipeline.bucketedTableName(root, "")
    spark.catalog.listTables().collect().map(_.name).filter(_.startsWith(prefix)).toSeq
  }

  private def stageRows(root: String, stage: String): Double = {
    val marker = Paths.get(root, stage, "_graft_commit.json")
    if (!Files.exists(marker)) 0.0
    else """"rows":(\d+)""".r.findFirstMatchIn(Files.readString(marker)).map(_.group(1).toDouble)
      .getOrElse(0.0)
  }

  def run(): Unit = {
    val setupS = b.sessionS + b.seconds {
      corpus.webPages(spark, Pages).write.parquet(s"$input/pages")
      corpus.writeNt(spark, input)
      nt = b.own(WideCorpus.readNt(spark, input))
    }
    if (b.args.trace) traced(setupS) else untraced(setupS)
  }

  /** A cold build into a fresh root, measured and checked; the root is kept. */
  private def cold(i: Int, root: String): Option[Op] = b.attempt(s"cold run $i") {
    spark.catalog.clearCache()
    val s = b.timed(runner(root))
    val check = b.checkOf(spark.read.parquet(s"$root/triples"))
    val (jobs, shuffle) = b.jobsAndShuffle(s)
    val stored = b.duMb(root +: tables(root).map(t => s"${b.work}/warehouse/$t"): _*)
    val op = Op(s, check, jobs, shuffle, stored, b.cacheMb(), b.heapMb())
    (op, b.matches(check))
  }

  private def resume(i: Int, root: String, want: Check): Option[Sample] =
    b.attempt(s"resume $i") {
      Resumed.foreach(s => Pipeline.invalidate(s"$root/$s"))
      val s = b.timed(runner(root))
      (s, b.checkOf(spark.read.parquet(s"$root/triples")) == want)
    }

  private def untraced(setupS: Double): Unit = {
    val ops = Seq.newBuilder[Op]
    val loopStart = System.nanoTime()
    var i, ok = 0
    while (b.keepGoing(loopStart, ok)) {
      val root = s"${b.work}/runs/kg-$i"
      cold(i, root).foreach { op => ok += 1; ops += op }
      cleanup(root)
      i += 1
    }
    b.reportOps(setupS, ops.result(), Pages)
  }

  /**
   * One cold build with execution classification on, charged to Runner
   * stages: a stage's span is the time window from the previous write
   * into the root to its own stage write; commit lineage scans and
   * bucketed table writes are carved out as `pipeline.commit` and
   * `pipeline.bucketed`. Then three resumes, each after the last three
   * stages' markers are removed: an untraced one reported as
   * `all.resume_s`, which also warms the resume path, a second untraced
   * one and a traced one; `all.trace_overhead_s` is the third minus the
   * second.
   */
  private def traced(setupS: Double): Unit = {
    val root = s"${b.work}/runs/kg-0"
    b.recorder.classify = true
    val op = cold(0, root)
    val metrics = op.map(o => layerMetrics(root, o.s)).getOrElse(Map.empty[String, Double])
    b.recorder.classify = false
    val first = op.flatMap(o => resume(1, root, o.check))
    val plain = op.flatMap(o => resume(2, root, o.check))
    b.recorder.classify = true
    val tracedResume = op.flatMap(o => resume(3, root, o.check))
    b.recorder.classify = false
    cleanup(root)
    val overheadS = for (t <- tracedResume; p <- plain) yield t.seconds - p.seconds
    b.reportLayers(metrics ++ first.map(r => "all.resume_s" -> r.seconds) ++
      overheadS.map("all.trace_overhead_s" -> _),
      correct = Seq(op, first, plain, tracedResume).forall(_.isDefined))
  }

  private def layerMetrics(root: String, s: Sample): Map[String, Double] = {
    org.apache.spark.sql.BenchAccess.drain(spark.sparkContext)
    val stageOf = Layers.RunnerStages.toMap
    val rootPath = Paths.get(root).toAbsolutePath.normalize
    /** The directory under the root a write goes to, if it writes into the root. */
    def rootDir(path: String): Option[String] = {
      val p = Paths.get(new java.net.URI(path).getPath).normalize
      if (p.startsWith(rootPath) && p != rootPath) Some(rootPath.relativize(p).getName(0).toString)
      else None
    }
    val execs = b.recorder.execs
    def window(id: Long): (Long, Long) = Option(execs.get(id)).map(a => (a(0), a(1))).getOrElse((0L, 0L))
    val kinds = b.recorder.kinds
    import scala.jdk.CollectionConverters._
    val roots = kinds.asScala.toSeq.filter { case (id, _) =>
      val (st, en) = window(id)
      st >= s.fromMs && en <= s.toMs && Option(execs.get(id)).exists(_(2) == id)
    }
    // writes into the root, in time order, close the spans: a stage
    // directory its layer's span, any other directory a span no layer owns
    val writes = roots.collect { case (id, ExecKind.Write(p)) if rootDir(p).isDefined =>
      (rootDir(p).flatMap(stageOf.get), window(id)._2)
    }.sortBy(_._2)
    def carved(kind: ExecKind) = roots.collect { case (id, k) if k == kind => window(id) }
    val commits = carved(ExecKind.Lineage)
    val bucketed = carved(ExecKind.Bucketed)

    def layerOf(j: JobRec): Option[String] = b.recorder.kindOf(j) match {
      case ExecKind.Lineage => Some(Layers.Commit)
      case ExecKind.Bucketed => Some(Layers.Bucketed)
      case ExecKind.Write(p) if rootDir(p).isDefined => rootDir(p).flatMap(stageOf.get)
      case _ => writes.find(_._2 >= j.startMs).flatMap(_._1)
    }
    val jobs = b.recorder.programJobs(s.fromMs, s.toMs)
    val out = Layers.attribute(b.recorder, jobs, layerOf, s.seconds, b.cores)

    def total(ws: Seq[(Long, Long)], from: Long, to: Long) =
      ws.filter { case (st, _) => st > from && st <= to }.map { case (st, en) => en - st }.sum
    var prev = s.fromMs
    for ((layer, end) <- writes) {
      layer.foreach { l =>
        out(s"$l.wall_s") = (end - prev - total(commits ++ bucketed, prev, end)) / 1000.0
      }
      prev = end
    }
    out(s"${Layers.Commit}.wall_s") = commits.map { case (st, en) => en - st }.sum / 1000.0
    out(s"${Layers.Bucketed}.wall_s") = bucketed.map { case (st, en) => en - st }.sum / 1000.0
    for ((stage, layer) <- Layers.RunnerStages) out(s"$layer.rows") = stageRows(root, stage)
    out(s"${Layers.Commit}.rows") = Layers.RunnerStages.map(st => stageRows(root, st._1)).sum
    out(s"${Layers.Bucketed}.rows") =
      stageRows(root, "candidates") + stageRows(root, "entity_contexts")
    out.toMap
  }
}
