package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{BenchAccess, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Output check of one operation: row count and an order-independent hash. */
final case class Check(count: Long, hash: String) {
  def json: String = s"""{"count":$count,"hash":"$hash"}"""
}

/** One timed operation: wall time and the epoch-ms window its jobs fall in. */
final case class Sample(seconds: Double, fromMs: Long, toMs: Long)

/** A measured, checked operation and what it left behind. */
final case class Op(s: Sample, check: Check, jobs: Int, shuffleMb: Double,
                    storedMb: Double, cacheMb: Double, heapMb: Double)

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: String, expected: Map[String, Check], inject: String)

/**
 * Shared harness: session, recorder, timing, output checks, failure
 * accounting and the result report. Workloads drive the program through
 * its public entry points only.
 */
final class Bench(val args: Args) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val work: String = Paths.get(args.work).toAbsolutePath.toString

  private val sessionStart = System.nanoTime()
  val spark: SparkSession = graft.GraftSession.builder(s"local[$cores]", cores)
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .config("spark.local.dir", s"$work/local")
    .getOrCreate()
  val sessionS: Double = (System.nanoTime() - sessionStart) / 1e9
  spark.sparkContext.setLogLevel("WARN")

  val recorder = new Recorder
  spark.sparkContext.addSparkListener(recorder)

  // ---- accounting ------------------------------------------------------

  var attempted = 0
  var failed = 0
  /** The first operation's output check, recorded with `--record 1`. */
  var observed: Option[Check] = None

  /**
   * Runs one operation. A throw or a failed output check counts it as
   * failed and its timing is dropped, never reported.
   */
  def attempt[T](what: String)(body: => (T, Boolean)): Option[T] = {
    attempted += 1
    try {
      val (v, ok) = body
      if (ok) Some(v)
      else { failed += 1; System.err.println(s"[perfbench] $what: output check failed"); None }
    } catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] $what failed: $e")
        None
    }
  }

  /** The input path to read; with `--inject throw` the first operation
   *  gets one that does not exist, so the program throws. */
  def input(path: String): String =
    if (args.inject == "throw" && attempted == 1) s"$path-missing" else path

  /** Checks an output against the record for (workload, seed), if any. */
  def matches(got: Check): Boolean = {
    val injected = args.inject == "mismatch" && observed.isEmpty
    if (observed.isEmpty) observed = Some(got)
    got.count > 0 && args.expected.get(s"${args.workload}/${args.seed}").forall(_ == got) && !injected
  }

  // ---- measurement -----------------------------------------------------

  def timed(body: => Unit): Sample = {
    val fromMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    body
    val s = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] timed operation: $s%.3f s")
    Sample(s, fromMs, System.currentTimeMillis())
  }

  /** Runs `body` with its Spark jobs marked as the benchmark's own. */
  def own[T](body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Props.Own, "1")
    try body finally sc.setLocalProperty(Props.Own, null)
  }

  def checkOf(df: DataFrame): Check = own {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(col("subj"), col("pred"), col("obj")).cast("decimal(38,0)"))).head()
    Check(r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  def jobsAndShuffle(s: Sample): (Int, Double) = {
    BenchAccess.drain(spark.sparkContext)
    val js = recorder.programJobs(s.fromMs, s.toMs)
    (js.size, recorder.tasksOf(js).map(_.shuffleWriteBytes).sum / 1e6)
  }

  def cacheMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** Driver heap in use after a full collection: repeats where a raw peak
   *  does not. The pause lets Spark's cleaner drop blocks the first
   *  collection made unreachable before the second one counts. */
  def heapMb(): Double = {
    System.gc(); Thread.sleep(300); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def duMb(paths: String*): Double = paths.map { p =>
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
  }.sum / 1e6

  def deleteDir(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  /** Seconds `body` takes. */
  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Loop guard: keep going until `seconds` have passed, at least one
   *  operation succeeded, or three attempts all failed. */
  def keepGoing(loopStart: Long, successes: Int): Boolean =
    (System.nanoTime() - loopStart) / 1e9 < args.seconds ||
      (successes == 0 && attempted < 3)

  // ---- report ----------------------------------------------------------

  def env(): String = {
    val c = spark.conf
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    Seq("cores" -> cores.toString, "jdk" -> q(System.getProperty("java.version")),
      "spark" -> q(spark.version),
      "aqe" -> q(c.get("spark.sql.adaptive.enabled")),
      "broadcast_threshold" -> q(c.get("spark.sql.autoBroadcastJoinThreshold")),
      "shuffle_partitions" -> q(c.get("spark.sql.shuffle.partitions")),
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "workload" -> q(args.workload), "seed" -> args.seed.toString,
      "trace" -> args.trace.toString)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }

  /** The end-to-end report: medians over the workload's successful operations. */
  def reportOps(setupS: Double, ops: Seq[Op], docsPerOp: Int): Unit = {
    def med(f: Op => Double) = median(ops.map(f))
    report(Seq(
      ("setup_s", "s", setupS),
      ("op_s", "s", med(_.s.seconds)),
      ("triples_per_s", "triples/s", med(o => o.check.count / o.s.seconds)),
      ("docs_per_s", "docs/s", med(o => docsPerOp / o.s.seconds)),
      ("spark_jobs", "count", med(_.jobs.toDouble)),
      ("shuffle_mb", "MB", med(_.shuffleMb)),
      ("stored_mb", "MB", med(_.storedMb)),
      ("cache_mb", "MB", med(_.cacheMb)),
      ("heap_mb", "MB", med(_.heapMb))), correct = ops.nonEmpty)
  }

  /** The per-layer report. The run is correct only when at least 95% of
   *  the program's jobs and of its task time were charged to a named layer. */
  def reportLayers(metrics: Map[String, Double], correct: Boolean): Unit = {
    val attributed = Seq("all.attributed_jobs", "all.attributed_task_s")
      .forall(k => metrics.getOrElse(k, 0.0) >= 0.95)
    if (correct && !attributed) System.err.println("[perfbench] attribution below 95%")
    report(Layers.Metrics.map { case (n, u) => (n, u, metrics.getOrElse(n, 0.0)) },
      correct && attributed)
  }

  def report(metrics: Seq[(String, String, Double)], correct: Boolean): Unit = {
    val ms = metrics.map { case (n, u, v) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n":{"value":$x,"unit":"$u"}"""
    }.mkString("{", ",", "}")
    val ok = correct && failed == 0 && attempted > 0
    val result = s"""{"correct":$ok,"attempted":$attempted,"failed":$failed,"metrics":$ms}"""
    val full = s"""{"env":${env()},"observed":${observed.map(_.json).getOrElse("null")},"result":$result}"""
    Files.writeString(Paths.get(work, "report.json"), full)
  }
}

object Bench {
  /** Reads `--key value` pairs; expected checks come as `workload/seed` keys. */
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val expected = kv.get("expected").filter(p => Files.exists(Paths.get(p))).map { p =>
      val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Paths.get(p).toFile)
      import scala.jdk.CollectionConverters._
      tree.properties().asScala.map { e =>
        e.getKey -> Check(e.getValue.get("count").asLong(), e.getValue.get("hash").asText())
      }.toMap
    }.getOrElse(Map.empty)
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv.get("trace").contains("1"),
      kv("work"), expected, kv.getOrElse("inject", ""))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val bench = new Bench(args)
    try args.workload match {
      case "kg-wide" => new KgWide(bench).run()
      case "annotate-warm" => new AnnotateWarm(bench).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally bench.spark.stop()
  }
}
