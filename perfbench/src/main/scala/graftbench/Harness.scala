package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core.GraftDataset
import graft.operators.FeatureFix
import graft.sources.Io

/** One workload run: an untimed output pass for the check (the cold
  * first pass), warm-up passes, timed passes over the op list and
  * optional traced passes.
  * Writes every sample to a JSON artifact; `run.py` turns it into the
  * benchmark's metrics. Each op is timed at three public boundaries:
  * build (`fn(spark, dir)`), plan (`df.queryExecution.executedPlan`)
  * and action (a noop write).
  *
  * Usage: Harness --ops a,b,c --data DIR --seed N --passes N
  *   --warmup N --trace 0|1 --cores N --scratch DIR
  *   --out FILE --check DIR
  */
object Harness {
  /** The lineage round trip: the dataset q_encode_multi builds, written
    * with its operation history and read back. */
  val RoundTrip = "io_lineage_roundtrip"

  final case class Op(name: String, build: (SparkSession, String) => DataFrame)

  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  final case class Sample(op: String, pass: Int, build: Double, plan: Double,
      action: Double, error: Option[String]) {
    def total: Double = build + plan + action
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val data = a("data")
    val seed = a("seed").toLong
    val cores = a("cores").toInt
    val scratch = a("scratch")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.local.dir", s"$scratch/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val registry = graft.SparkEntry.queries
    val ops = a("ops").split(",").toSeq.map {
      case RoundTrip => Op(RoundTrip, (s, dir) => roundTrip(s, dir)._2.data)
      case n => Op(n, registry(n))
    }
    val bench = new Bench(spark, data, ops, seed)
    // The output check is the first, cold pass: it pays Spark's one-time
    // costs, which belong in set-up, and costs no pass of its own.
    val t0Check = System.nanoTime()
    val checkErrors = check(spark, data, ops, a("check"))
    val checkWall = (System.nanoTime() - t0Check) / 1e9
    // Warm-up passes end on a collection too, as the timed passes do.
    val warmup = checkWall +: (0 until a("warmup").toInt).map { p =>
      val wall = bench.pass(-1 - p)
      System.gc()
      wall
    }
    println("GRAFTBENCH_SETUP_DONE")
    System.out.flush()

    // A fixed count, not a deadline: passes keep getting faster for many
    // passes (JIT), so a time limit would let a faster run reach further
    // down that curve and lower its own median.
    val timedPasses = a("passes").toInt
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var p = 0
    while (p < timedPasses) {
      val wall = bench.pass(p)
      // Every timed pass starts on a collected heap.
      System.gc()
      passes += Map("pass" -> p, "wall_s" -> wall,
        "jit_total_ms" -> ManagementFactory.getCompilationMXBean
          .getTotalCompilationTime,
        "codegen_compiles" -> org.apache.spark.metrics.source.CodegenMetrics
          .METRIC_COMPILATION_TIME.getCount)
      p += 1
    }
    val heapMb = heapAfterGcMb()
    val untracedWall = passes.map(_("wall_s").asInstanceOf[Double]).toSeq

    val trace = if (a("trace") == "1") Some(traced(spark, bench, p,
      untracedWall)) else None

    val runtime = Runtime.getRuntime
    val artifact = Map(
      "jvm" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "heap_max_mb" -> runtime.maxMemory / 1048576.0,
      "cores" -> cores,
      "seed" -> seed,
      "warmup_passes_s" -> warmup,
      "passes" -> passes.toSeq,
      "heap_mb_after_gc" -> heapMb,
      "samples" -> bench.samples.toSeq.map { s =>
        Map("op" -> s.op, "pass" -> s.pass, "build_s" -> s.build,
          "plan_s" -> s.plan, "action_s" -> s.action,
          "error" -> s.error.orNull)
      },
      "check_errors" -> checkErrors,
      "trace" -> trace.orNull)
    Files.writeString(Paths.get(a("out")), json.writeValueAsString(artifact))
    spark.stop()
  }

  /** Two traced passes: per-op layer metrics from the listeners, the
    * ops whose deterministic counters differ between the two, and the
    * traced / untraced pass-time ratio. */
  private def traced(spark: SparkSession, bench: Bench, firstPass: Int,
      untracedWall: Seq[Double]): Map[String, Any] = {
    val jobs = new LayerListener
    val plans = new PlanListener
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    val tracer = new Tracer(spark, jobs, plans)
    val runs = (0 until 2).map { i =>
      val t0 = System.nanoTime()
      val perOp = bench.tracedPass(firstPass + i, tracer)
      ((System.nanoTime() - t0) / 1e9, perOp)
    }
    spark.listenerManager.unregister(plans)
    spark.sparkContext.removeSparkListener(jobs)
    val Seq(first, second) = runs.map(_._2)
    def counters(layers: Map[String, Any]) =
      Tracer.Counters.map(c => c -> layers.get(c).orNull).toMap
    val mismatched = first.keys.toSeq.sorted
      .filter(op => counters(first(op)) != counters(second(op)))
    Map(
      "passes" -> runs.map { case (wall, perOp) =>
        Map("wall_s" -> wall, "ops" -> perOp) },
      "counter_mismatch" -> mismatched.map(op => Map("op" -> op,
        "first" -> counters(first(op)), "second" -> counters(second(op)))),
      "trace_overhead" -> median(runs.map(_._1)) / median(untracedWall))
  }

  /** Runs each op once and writes its output for the oracle compare in
    * run.py; the lineage round trip is compared here. Returns op → error
    * for every op that threw or failed its own check. */
  private def check(spark: SparkSession, data: String, ops: Seq[Op],
      out: String): Map[String, String] = {
    val oracles = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      json.writeValueAsString(
        ops.flatMap(op => oracles.get(op.name).map(op.name -> _)).toMap))
    ops.flatMap(op => checkOne(spark, data, op, out)).toMap
  }

  private def checkOne(spark: SparkSession, data: String, op: Op,
      out: String): Option[(String, String)] =
    try {
      if (op.name == RoundTrip) roundTripError(spark, data).map(op.name -> _)
      else {
        op.build(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/${op.name}")
        None
      }
    } catch { case e: Throwable => Some(op.name -> describe(e)) }

  private def roundTrip(s: SparkSession, dir: String)
      : (GraftDataset, GraftDataset) = {
    val li = s.read.parquet(s"$dir/lineitem.parquet").select(
      col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
      col("l_linestatus"))
    val written = FeatureFix.encodeMultiCategorical(GraftDataset(li),
      Seq("l_returnflag", "l_linestatus"))
    val path = s"${System.getProperty("java.io.tmpdir")}/graftbench_lineage"
    Io.writeDataset(written, path, overwrite = true)
    (written, Io.readDataset(s, path))
  }

  /** The read-back dataset must hold the written rows and history. */
  private def roundTripError(s: SparkSession, dir: String): Option[String] = {
    val (w, r) = roundTrip(s, dir)
    val missing = w.data.exceptAll(r.data).count()
    val extra = r.data.exceptAll(w.data).count()
    if (missing + extra > 0) Some(s"rows differ: $missing missing, $extra extra")
    else if (r.history != w.history) Some("history differs")
    else if (r.metadataCols != w.metadataCols || r.derivedCols != w.derivedCols)
      Some("column roles differ")
    else None
  }

  def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(500)

  /** Heap in use after full collections. Each one lets Spark's
    * ContextCleaner see more unreachable broadcasts and shuffles and drop
    * their blocks in the pause; collect until the heap stops shrinking. */
  private def heapAfterGcMb(): Double = {
    def used(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    @annotation.tailrec
    def shrink(prev: Double, rounds: Int): Double = {
      Thread.sleep(100)
      val now = used()
      if (rounds == 4 || prev - now <= 1.0) now else shrink(now, rounds + 1)
    }
    shrink(used(), 1)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Runs passes over the op list in a seed-permuted order. */
final class Bench(spark: SparkSession, data: String, ops: Seq[Harness.Op],
    seed: Long) {
  val samples = mutable.ArrayBuffer.empty[Harness.Sample]

  def order(pass: Int): Seq[Harness.Op] =
    new Random(seed * 1000003L + pass).shuffle(ops)

  /** One untraced pass; returns its wall time. Warm-up passes have a
    * negative number. */
  def pass(p: Int): Double = {
    val t0 = System.nanoTime()
    order(p).foreach(op => samples += time(op, p, None))
    (System.nanoTime() - t0) / 1e9
  }

  /** One traced pass; returns op → its per-layer metrics. */
  def tracedPass(p: Int, tracer: Tracer): Map[String, Map[String, Any]] =
    order(p).map(op => op.name -> tracer.summarize(time(op, p, Some(tracer))))
      .toMap

  private def time(op: Harness.Op, p: Int, tracer: Option[Tracer])
      : Harness.Sample = {
    var (b, pl, ac) = (0.0, 0.0, 0.0)
    def phase[T](name: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      val dt = (System.nanoTime() - t0) / 1e9
      tracer.foreach(_.settle(name))
      (r, dt)
    }
    val err = try {
      val (df, tb) = phase("build")(op.build(spark, data))
      b = tb
      val (plan, tp) = phase("plan")(df.queryExecution.executedPlan)
      pl = tp
      tracer.foreach(_.exchanges = Plans.exchanges(plan))
      ac = phase("action")(df.write.format("noop").mode("overwrite").save())._2
      None
    } catch { case e: Throwable => Some(Harness.describe(e)) }
    Harness.Sample(op.name, p, b, pl, ac, err)
  }
}

/** Turns the jobs and plan statistics of each phase of an op into the
  * per-layer metrics. */
final class Tracer(spark: SparkSession, jobs: LayerListener,
    plans: PlanListener) {
  private val phaseJobs = mutable.Map.empty[String, Seq[JobStats]]
  private var planStats = (0L, 0L, 0L)
  /** Exchange nodes in the executed plan of the current op. */
  var exchanges = 0

  /** Called at the end of each phase: waits for the listener bus, then
    * files the jobs started and plans executed during the phase. */
  def settle(phase: String): Unit = {
    Bus.drain(spark.sparkContext)
    phaseJobs(phase) = jobs.claim()
    val (o, p, f) = plans.claim()
    planStats = (planStats._1 + o, planStats._2 + p, planStats._3 + f)
  }

  /** The current op's metrics; resets for the next op. */
  def summarize(s: Harness.Sample): Map[String, Any] = {
    val build = phaseJobs.getOrElse("build", Nil)
    val all = Seq("build", "plan", "action").flatMap(phaseJobs.getOrElse(_, Nil))
    val (opens, eager) = build.partition(_.isOpen)
    val openS = opens.map(_.wallMs).sum / 1e3
    val mb = 1048576.0
    val wall = s.total
    val runS = all.map(_.runMs).sum / 1e3
    val stages = all.map(_.stagesRun).sum
    val skipped = all.map(_.skippedStages).sum
    val (optMs, planMs, files) = planStats
    val actionJobs = phaseJobs.getOrElse("action", Nil).size
    val ex = exchanges
    phaseJobs.clear()
    planStats = (0L, 0L, 0L)
    exchanges = 0
    Map(
      "build_s" -> s.build,
      "plan_s" -> s.plan,
      "action_s" -> s.action,
      "error" -> s.error.orNull,
      "sources.open_jobs" -> opens.size,
      "sources.open_s" -> openS,
      "sources.write_mb" -> all.map(_.outputBytes).sum / mb,
      "sources.files_written" -> files,
      "operators.build_s" -> (s.build - openS).max(0.0),
      "operators.build_jobs" -> eager.size,
      "operators.build_task_s" -> eager.map(_.runMs).sum / 1e3,
      "plans.optimization_ms" -> optMs,
      "plans.planning_ms" -> planMs,
      "exec.action_s" -> s.action,
      "exec.action_jobs" -> actionJobs,
      "exec.stages" -> stages,
      "exec.tasks" -> all.map(_.tasks).sum,
      "exec.exchanges" -> ex,
      "exec.task_run_s" -> runS,
      "exec.task_cpu_s" -> all.map(_.cpuNs).sum / 1e9,
      "exec.task_gc_s" -> all.map(_.gcMs).sum / 1e3,
      "exec.shuffle_read_mb" -> all.map(_.shuffleReadBytes).sum / mb,
      "exec.shuffle_write_mb" -> all.map(_.shuffleWriteBytes).sum / mb,
      "exec.spill_mb" -> all.map(_.spillBytes).sum / mb,
      "exec.core_busy_frac" ->
        (if (wall > 0) runS / (spark.sparkContext.defaultParallelism * wall)
         else 0.0),
      "exec.skipped_stage_frac" ->
        (if (stages + skipped > 0) skipped.toDouble / (stages + skipped)
         else 0.0),
      "exec.stages_skipped" -> skipped)
  }
}

object Tracer {
  /** Counts that do not depend on timing; two passes must agree. */
  val Counters: Seq[String] = Seq("sources.open_jobs", "operators.build_jobs",
    "exec.action_jobs", "exec.stages", "exec.exchanges")
}
