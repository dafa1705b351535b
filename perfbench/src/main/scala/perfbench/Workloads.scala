package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

import graft.{GraftSession, SparkEntry}
import graft.operators.{NnDescent, ReferenceHypercube}
import graft.sources.Tables

import Main.Metric

final case class Outcome(attempted: Int, failed: Int, problems: Seq[String],
    metrics: Seq[Metric], spans: Seq[Span])

/** What one traced job cost the engine, from the listeners' deltas. */
final case class JobCost(wallS: Double, c: Counters, heapPeakMb: Double)

object Workloads {
  val names: Seq[String] = Seq("hypercube_bulk", "corpus_sf001")

  def apply(name: String): Workload = name match {
    case "hypercube_bulk" => new HypercubeBulk
    case "corpus_sf001" => new Corpus
  }

  def now: Long = System.nanoTime()
  def secs(t0: Long): Double = (now - t0) / 1e9

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Per-layer metrics every workload reports; a layer the workload does
    * not exercise reads 0. */
  val LayerUnits: Seq[(String, String)] = Seq(
    "GraftSession.start_s" -> "s",
    "sources.decode_s" -> "s", "sources.decode_rows_per_s" -> "1/s",
    "ReferenceHypercube.plan_s" -> "s", "ReferenceHypercube.join_s" -> "s",
    "ReferenceHypercube.aggregate_s" -> "s", "ReferenceHypercube.write_s" -> "s",
    "Dedup.minhash_s" -> "s", "Dedup.jaccard_s" -> "s",
    "GraphServe.batch_s" -> "s", "Graph.pagerank_s" -> "s",
    "Staging.build_s" -> "s", "Staging.hits" -> "count", "Staging.misses" -> "count",
    "spark.plan_s" -> "s", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.exchanges" -> "count", "spark.sched_delay_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.cpu_util" -> "ratio", "spark.serial_stage_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB", "spark.failed_tasks" -> "count",
    "tracing.overhead_frac" -> "ratio")
}

import Workloads._

/** The shared run protocol. Set-up (session start, input generation,
  * staged builds, warm-up) is repeated `setupReps` times in fresh
  * directories and a fresh session, and `setup_s` is the median. Then
  * jobs run back to back for `--seconds` (at least `minJobs`). Every
  * job's output is checked after the timed window. A traced run traces
  * its jobs (alternating with untraced ones where the workload measures
  * the tracing overhead), then runs the workload's layer probes with the
  * listeners on. */
abstract class Workload {
  def name: String
  def setupReps: Int
  def minJobs: Int
  /** Jobs a traced run makes at least. */
  def traceJobs: Int
  /** Whether a traced run alternates traced and untraced jobs and reports
    * `tracing.overhead_frac`; otherwise every job is traced. */
  def measuresOverhead: Boolean = true
  /** Input rows one job reads (for `rows_per_s`). */
  def rowsPerJob: Long

  /** One set-up repetition into the fresh directory `dir`. */
  def prepare(spark: SparkSession, dir: Path, seed: Long): Unit
  /** One timed job; returns its deferred output check. */
  def job(spark: SparkSession, i: Int, tr: Tracer): () => Seq[String]
  /** The workload's own layer metrics, measured with the tracer on. */
  def layers(spark: SparkSession, tr: Tracer, jobs: Seq[JobCost]): Map[String, Double]

  protected val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)
  protected val root: Path = Paths.get("").toAbsolutePath

  final def run(a: Main.Args): Outcome = {
    var spark: SparkSession = null
    var tr: Tracer = null
    val setups = ArrayBuffer.empty[Double]
    val starts = ArrayBuffer.empty[Double]
    for (rep <- 1 to setupReps) {
      if (spark != null) {
        spark.stop()
        deleteTree(root.resolve("data"))
        deleteTree(root.resolve("target"))
      }
      val t0 = now
      spark = GraftSession.local(s"perfbench-$name")
      starts += secs(t0)
      tr = new Tracer(spark, name, root.resolve("target").toString)
      prepare(spark, root.resolve(s"data/rep$rep"), a.seed)
      setups += secs(t0)
      System.err.println(f"[perfbench] $name set-up $rep: ${setups.last}%.3f s")
    }
    steady(spark)

    val problems = ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    val checks = ArrayBuffer.empty[() => Seq[String]]

    /** Jobs back to back for `--seconds` (at least `min`). With `trace`,
      * jobs run with the listeners attached: all of them, or, where the
      * workload measures the overhead, the even ones. Traced and untraced
      * jobs then alternate around the middle of the loop (T U T U T), so a
      * steady drift moves both medians alike. Returns the untraced walls,
      * the traced costs and the window. */
    def loop(min: Int, trace: Boolean): (Seq[Double], Seq[JobCost], Double) = {
      val walls = ArrayBuffer.empty[Double]
      val costs = ArrayBuffer.empty[JobCost]
      val start = now
      var i = 0
      while (i < min || secs(start) < a.seconds) {
        val traced = trace && (!measuresOverhead || i % 2 == 0)
        attempted += 1
        tr.job = i
        val before = if (traced) { tr.attach(); Tracer.resetHeapPeak(); tr.counters() } else null
        try {
          val t0 = now
          checks += job(spark, i, tr)
          val wall = secs(t0)
          if (traced) costs += JobCost(wall, tr.counters() - before, Tracer.heapPeakMb)
          else walls += wall
        } catch {
          case NonFatal(e) =>
            failed += 1
            problems += s"job $i: $e"
        } finally if (traced) tr.detach()
        i += 1
      }
      System.err.println(s"[perfbench] $name job walls: ${walls.map(w => f"$w%.3f").mkString(" ")}" +
        s"; traced: ${costs.map(c => f"${c.wallS}%.3f").mkString(" ")}")
      (walls.toSeq, costs.toSeq, secs(start))
    }

    val metrics =
      if (!a.trace) {
        val (walls, _, wall) = loop(minJobs, trace = false)
        Seq(
          Metric("setup_s", median(setups.toSeq), "s"),
          Metric("rows_per_s", rowsPerJob * walls.size / wall, "1/s"),
          Metric("job_p50_s", median(walls), "s"))
      } else {
        val (plain, costs, _) = loop(traceJobs, trace = true)
        tr.attach()
        val own = try layers(spark, tr, costs) finally tr.detach()
        def med(f: JobCost => Double) = median(costs.map(f))
        val common = Map(
          "GraftSession.start_s" -> median(starts.toSeq),
          "spark.plan_s" -> med(_.c.planNs / 1e9),
          "spark.jobs" -> med(_.c.jobs.toDouble),
          "spark.stages" -> med(_.c.stages.toDouble),
          "spark.tasks" -> med(_.c.tasks.toDouble),
          "spark.exchanges" -> med(_.c.exchanges.toDouble),
          "spark.sched_delay_s" -> med(_.c.schedDelayMs / 1e3),
          "spark.task_cpu_s" -> med(_.c.taskCpuNs / 1e9),
          "spark.cpu_util" -> med(j => j.c.taskCpuNs / 1e9 / (j.wallS * cores)),
          "spark.serial_stage_s" -> med(_.c.serialStageMs / 1e3),
          "spark.shuffle_write_mb" -> med(_.c.shuffleWriteBytes / 1048576.0),
          "spark.shuffle_read_mb" -> med(_.c.shuffleReadBytes / 1048576.0),
          "spark.spill_mb" -> med(_.c.spillBytes / 1048576.0),
          "spark.gc_s" -> med(_.c.gcMs / 1e3),
          "jvm.heap_peak_mb" -> (if (costs.isEmpty) 0.0 else costs.map(_.heapPeakMb).max),
          "spark.failed_tasks" -> costs.map(_.c.failedTasks.toDouble).sum,
          "Staging.hits" -> med(_.c.stagedReads.toDouble))
        val overhead =
          if (measuresOverhead) Map("tracing.overhead_frac" -> (med(_.wallS) / median(plain) - 1))
          else Map.empty
        val all = common ++ overhead ++ own
        LayerUnits.map { case (n, u) => Metric(n, all.getOrElse(n, 0.0), u) }
      }

    checks.foreach { c =>
      val p = try c() catch { case NonFatal(e) => Seq(s"check crashed: $e") }
      if (p.nonEmpty) { failed += 1; problems ++= p }
    }
    spark.stop()
    Outcome(attempted, failed, problems.toSeq, metrics, tr.spans)
  }

  /** JIT warm-up after the set-up repetitions, outside `setup_s`: it
    * repeats work the set-up already did, so no set-up cost hides here. */
  def steady(spark: SparkSession): Unit = ()

  protected def stagedRoots: Int = {
    val t = root.resolve("target")
    if (!Files.exists(t)) 0
    else {
      val s = Files.walk(t)
      try s.filter(p => p.getFileName.toString == "_SUCCESS" &&
        p.getParent.getParent.getParent == t).count().toInt
      finally s.close()
    }
  }
}

/** The reference's query at 1/64 of its published scale (15,625
  * clients, 25,000 contracts, 900,000 invoices), one folder, jobs back to
  * back: per-row work is about 70% of a job. A job is EtlMain's default
  * path, `fromFolder` then `writeCsv(singleFile = true)`; the traced run
  * adds the prefix chain that splits a job into layers. */
final class HypercubeBulk extends Workload {
  val name = "hypercube_bulk"
  val shape: HypercubeGen.Shape = HypercubeGen.Reference.scaled(64)
  def setupReps = 2
  def minJobs = 3
  def traceJobs = 5
  def rowsPerJob: Long = shape.invoices
  private var data: String = _
  private val planTimes = ArrayBuffer.empty[Double]
  /** The current folder's oracle, computed once per set-up. */
  private var expected: EtlOracle.Cube = _

  def prepare(spark: SparkSession, dir: Path, seed: Long): Unit = {
    data = dir.resolve("cube").toString
    HypercubeGen.generate(data, seed, shape)
    expected = null
    warmUp(spark, data)
  }

  private def oracle: EtlOracle.Cube = {
    if (expected == null) expected = EtlOracle.compute(data)
    expected
  }

  def job(spark: SparkSession, i: Int, tr: Tracer): () => Seq[String] = {
    val out = root.resolve(s"out/job$i").toString
    val t0 = now
    val cube = tr.span("ReferenceHypercube.plan", "job")(ReferenceHypercube.fromFolder(spark, data))
    planTimes += secs(t0)
    tr.span("ReferenceHypercube.writeCsv", "job")(ReferenceHypercube.writeCsv(cube, out))
    () => try EtlOracle.check(oracle, out).map(p => s"job $i: $p")
      finally deleteTree(Paths.get(out))
  }

  private def warmUp(spark: SparkSession, in: String): Unit = {
    val out = root.resolve("out/warmup").toString
    ReferenceHypercube.writeCsv(ReferenceHypercube.fromFolder(spark, in), out)
    deleteTree(Paths.get(out))
  }

  /** Two more bulk jobs: a job's time keeps falling through about the
    * fourth bulk job in a JVM (JIT), and the set-up ran only two. */
  override def steady(spark: SparkSession): Unit = for (_ <- 0 until 2) warmUp(spark, data)

  /** Prefix timings over the folder: decode → +join → +aggregate (to a
    * noop sink) → +CSV write; each layer's self time is the difference
    * to the previous prefix. Planning (`fromFolder`) is timed apart.
    *
    * No public call returns the joined stream, so the `+join` prefix
    * repeats the broadcast join and select of
    * `ReferenceHypercube.hypercube` as of this benchmark's parent
    * commit. If the engine's join changes, change this prefix with it,
    * or the difference shows up in `aggregate_s` instead of `join_s`. */
  private def chain(spark: SparkSession, tr: Tracer): Map[String, Double] = {
    def timed(name: String)(body: => Unit): Double = {
      val t0 = now
      tr.span(name, "chain")(body)
      secs(t0)
    }
    val inv = ReferenceHypercube.invoices(spark, s"$data/invoices.bin")
    val dim = broadcast(ReferenceHypercube.contractDim(
      ReferenceHypercube.clients(spark, s"$data/clients.csv"),
      ReferenceHypercube.contracts(spark, s"$data/contracts.csv")))
    val decode = timed("sources.decode")(noop(inv))
    val join = timed("+join")(noop(inv.join(dim, col("contract") === dim("contract_id"))
      .select(col("geo"), col("type"), col("misc"), col("nature"), col("time"),
        col("contract"), col("client"), col("consumption"), col("amount").as("amt"))))
    val full = ReferenceHypercube.fromFolder(spark, data)
    val agg = timed("+aggregate")(noop(full))
    val out = root.resolve("out/chain").toString
    val cube = ReferenceHypercube.fromFolder(spark, data)
    val write = timed("+write")(ReferenceHypercube.writeCsv(cube, out))
    val problems = EtlOracle.check(oracle, out)
    deleteTree(Paths.get(out))
    require(problems.isEmpty, s"prefix-chain CSV: ${problems.mkString("; ")}")
    Map("sources.decode_s" -> decode, "ReferenceHypercube.join_s" -> (join - decode),
      "ReferenceHypercube.aggregate_s" -> (agg - join),
      "ReferenceHypercube.write_s" -> (write - agg))
  }

  def layers(spark: SparkSession, tr: Tracer, jobs: Seq[JobCost]): Map[String, Double] = {
    val runs = Seq.fill(3)(chain(spark, tr))
    val m = runs.head.keys.map(k => k -> median(runs.map(_(k)))).toMap
    val plan = median(planTimes.toSeq)
    val job = median(jobs.map(_.wallS))
    System.err.println(f"[perfbench] $name layers: plan $plan%.3f + " +
      m.toSeq.sorted.map { case (k, v) => f"$k $v%.3f" }.mkString(" + ") +
      f" = ${plan + m.values.sum}%.3f s; traced job p50 $job%.3f s")
    m ++ Map("sources.decode_rows_per_s" -> shape.invoices / m("sources.decode_s"),
      "ReferenceHypercube.plan_s" -> plan)
  }
}

/** Shuffle-heavy and iterative curation entries that never touch the
  * hypercube: near-duplicate detection (MinHash LSH and the exact
  * prefix-filter join), batched graph-ANN serving over the staged
  * NN-descent index, and PageRank. A job is one pass of the four
  * entries, each collected and checked.
  *
  * The first pass in the JVM is the timed one (a pass outlasts
  * `--seconds`): a curation job runs as its own process and pays its
  * JIT warm-up every time, and the pass after one warm-up pass sits on
  * the steep part of the warm-up curve, where its time varied twice as
  * much from run to run as the cold pass's. */
final class Corpus extends Workload {
  val name = "corpus_sf001"
  val shape: CorpusGen.Shape = CorpusGen.Sf001
  val entries: Seq[(String, String)] = Seq(
    "q17_dedup_minhash" -> "Dedup.minhash_s",
    "q28_jaccard_join" -> "Dedup.jaccard_s",
    "q151_knn_graph_batch" -> "GraphServe.batch_s",
    "q114_pagerank" -> "Graph.pagerank_s")
  /** Set-up is the index build, which `Staging.build_s` reports; one
    * repetition keeps the run inside its time budget. */
  def setupReps = 1
  def minJobs = 1
  /** A traced run traces its one (cold) pass, the pass `job_p50_s` times.
    * It reports no tracing overhead: a second, untraced pass would run
    * warmer, so the comparison would measure JIT warm-up, not tracing. */
  def traceJobs = 1
  override def measuresOverhead = false
  /** The rows the four entries read. A run times one pass, so on this
    * workload `rows_per_s` is this constant over `job_p50_s`: it is
    * reported because every workload reports every end-to-end metric,
    * and adds nothing to `job_p50_s`. */
  def rowsPerJob: Long = 2L * shape.docs + 2L * shape.vecs + shape.orders + shape.lineitems

  private var dir: String = _
  private var seed: Long = _
  private val buildTimes = ArrayBuffer.empty[Double]
  /** q19's exact neighbours, the recall reference, computed by the first
    * check (after the timed window). */
  private var truthRows: Array[Row] = _
  private def truth(spark: SparkSession): Array[Row] = {
    if (truthRows == null) truthRows = SparkEntry.queries("q19_knn_brute")(spark, dir).collect()
    truthRows
  }

  def prepare(spark: SparkSession, d: Path, seed: Long): Unit = {
    dir = d.toString
    this.seed = seed
    CorpusGen.generate(spark, dir, seed, shape)
    val t0 = now
    NnDescent.graphIndexStaged(spark, dir)
    buildTimes += secs(t0)
  }

  def job(spark: SparkSession, i: Int, tr: Tracer): () => Seq[String] = {
    val results = entries.map { case (q, layer) =>
      val rows = tr.span(layer.stripSuffix("_s"), "pass")(SparkEntry.queries(q)(spark, dir).collect())
      spark.catalog.clearCache()
      q -> rows
    }.toMap
    () => CorpusOracle.check(results + ("q19_knn_brute" -> truth(spark)), seed, shape)
      .map(p => s"pass $i: $p")
  }

  def layers(spark: SparkSession, tr: Tracer, jobs: Seq[JobCost]): Map[String, Double] = {
    val perEntry = entries.map { case (_, layer) =>
      layer -> median(tr.spans.filter(_.name == layer.stripSuffix("_s")).map(_.seconds))
    }.toMap
    val tables = Seq[(SparkSession, String) => DataFrame](
      Tables.documents, Tables.embeddings, Tables.orders, Tables.lineitem)
    val decode = median((0 until 3).map { _ =>
      val t0 = now
      tr.span("sources.decode", "probe")(tables.foreach(t => noop(t(spark, dir))))
      secs(t0)
    })
    perEntry ++ Map(
      "sources.decode_s" -> decode,
      "sources.decode_rows_per_s" ->
        (shape.docs + shape.vecs + shape.orders + shape.lineitems) / decode,
      "Staging.build_s" -> median(buildTimes.toSeq),
      "Staging.misses" -> stagedRoots.toDouble)
  }
}
