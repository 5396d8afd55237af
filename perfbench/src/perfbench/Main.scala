package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Product-path benchmark: one JVM runs one workload.
  *
  * {{{
  * perfbench.Main --workload <advisory_refresh|api_lookup|curation_stream>
  *   --seed <n> --seconds <s> --trace <0|1> --scratch <dir> --out <file>
  *   [--size full|smoke]
  * }}}
  *
  * The workload's inputs are generated from `--seed`; the engine is driven
  * only through its public entry points, in a local session of
  * min(4, nproc) cores. With `--trace 0` the timed
  * region runs once, untraced, and the end-to-end metrics are reported.
  * With `--trace 1` the timed region runs three times on identical inputs,
  * a third of the seconds each: untraced, traced, untraced. The per-layer
  * metrics come from the traced region, and `trace.overhead.<metric>` is
  * its value of each end-to-end metric minus the mean of the two untraced
  * regions. Output checks run after
  * each timed region; every exception or wrong answer counts as failed.
  * The result (metrics, checks, provenance) is written to `--out` as JSON
  * and the spans of a traced run next to it as JSON lines.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, scratch: String, out: String, smoke: Boolean,
      cpus: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val nproc = Runtime.getRuntime.availableProcessors
    Args(need("--workload"), need("--seed").toLong,
      need("--seconds").toDouble, need("--trace") == "1", need("--scratch"),
      need("--out"), m.get("--size").contains("smoke"), math.min(4, nproc))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime
    val spark = graft.core.Sessions.configure(SparkSession.builder()
        .appName("perfbench").master(s"local[${a.cpus}]"), a.cpus.toString)
      .config("spark.local.dir", s"${a.scratch}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.scratch}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.scratch}/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    val run = new Run(spark, a, (System.nanoTime - t0) / 1e9)
    try {
      val w: Workload = a.workload match {
        case "advisory_refresh" => new Refresh(run)
        case "api_lookup" => new ApiLookup(run)
        case "curation_stream" => new Curation(run)
        case other => throw new IllegalArgumentException(
          s"unknown workload $other")
      }
      run.execute(w)
    } catch {
      case e: Throwable =>
        run.check("workload completed", ok = false, e.toString)
        run.attempted = math.max(run.attempted, 1L)
        run.failed = run.attempted
        e.printStackTrace()
    } finally {
      run.write()
      spark.stop()
    }
  }
}

/** One workload: set-up (billed to setup_s), a timed region that can be
  * run more than once from the same starting state, and output checks. */
trait Workload {
  /** Generation, state building and one untimed warm pass. */
  def setup(): Unit
  /** Run for `seconds` (or the smoke size's fixed count) and return the
    * operation latencies in ns plus the items they processed. */
  def timed(seconds: Double): Timed
  /** Check the outputs of the last timed region against what the
    * generators planted. */
  def verify(): Unit
  /** Per-layer metrics of the (traced) last timed region. */
  def layerMetrics(t: Timed): Unit
  /** Inputs and loop shape, recorded with the result. */
  def shape: Seq[(String, String)]
  /** Output digests pinned at the smoke size. */
  def digests: Seq[(String, String)] = Nil
  /** Trace the set-up too: its layer calls are measured nowhere else. */
  def traceSetup: Boolean = false
}

final case class Timed(opNs: Seq[Long], items: Long, wallNs: Long,
    attempted: Long, failed: Long, heldMb: Double, storageMb: Double)

final class Run(val spark: SparkSession, val args: Main.Args,
    sessionStartS: Double) {
  val tracer = new Tracer(spark.sparkContext)
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val summary = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  private var digestList: Seq[(String, String)] = Nil
  var attempted = 0L
  var failed = 0L

  def scratch(name: String): String = s"${args.scratch}/$name"

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))

  /** Operations of the last timed region whose answer was wrong. */
  private var wrongOps = 0L
  def wrong(n: Long): Unit = wrongOps += n

  /** Check a timed region's outputs. A failed check that no single
    * operation owns counts every operation of the region as failed. */
  private def verified(w: Workload, t: Timed): Unit = {
    val (c0, w0) = (checks.count(!_._2), wrongOps)
    w.verify()
    val wrongHere = wrongOps - w0
    failed += (if (checks.count(!_._2) > c0 && wrongHere == 0)
      t.attempted - t.failed else wrongHere)
  }

  def lm(name: String, v: Double, unit: String): Unit = layer(name) = (v, unit)

  private val born = System.nanoTime
  /** Progress line in the run log. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime - born) / 1e9}%7.2f s] $msg")

  /** Release what the collector can reclaim, then read what is held:
    * the JVM heap still live and Spark's block-manager storage memory.
    * Spark frees broadcast and shuffle blocks asynchronously once their
    * owners are collected, so collect until two readings agree. */
  def held(): (Double, Double) = {
    val rt = Runtime.getRuntime
    def live = { System.gc(); (rt.totalMemory - rt.freeMemory) / 1048576.0 }
    var (prev, heap, i) = (Double.MaxValue, live, 0)
    while (i < 8 && prev - heap > 0.5) {
      Thread.sleep(250)
      prev = heap; heap = live; i += 1
    }
    val storage = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, rem) => max - rem }.sum / 1048576.0
    (heap, storage)
  }

  private def pct(xs: Seq[Long], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      // linear interpolation between closest ranks
      val pos = p * (s.size - 1)
      val lo = s(pos.toInt)
      val hi = s(math.min(pos.toInt + 1, s.size - 1))
      lo + (hi - lo) * (pos - pos.toInt)
    }
  }
  def p50(xs: Seq[Long]): Double = pct(xs, 0.5)
  def p90(xs: Seq[Long]): Double = pct(xs, 0.9)

  private def e2eOf(t: Timed): Seq[(String, Double)] = Seq(
    "op_p50_ms" -> p50(t.opNs) / 1e6,
    "op_p90_ms" -> p90(t.opNs) / 1e6,
    "throughput_per_s" -> t.items / (t.wallNs / 1e9),
    "held_mb" -> t.heldMb)

  private val units = Map("op_p50_ms" -> "ms", "op_p90_ms" -> "ms",
    "throughput_per_s" -> "1/s", "held_mb" -> "MB")

  def execute(w: Workload): Unit = {
    val t0 = System.nanoTime
    log("setup")
    if (args.trace && w.traceSetup) {
      tracer.start()
      try w.setup() finally tracer.pause()
    } else w.setup()
    log("timed")
    val setupS = sessionStartS + (System.nanoTime - t0) / 1e9
    e2e("setup_s") = (setupS, "s")
    if (!args.trace) {
      val t = w.timed(args.seconds)
      record(t)
      e2eOf(t).foreach { case (k, v) => e2e(k) = (v, units(k)) }
      log("verify")
      verified(w, t)
    } else {
      // untraced, traced, untraced on identical inputs: averaging the two
      // untraced regions cancels the warm-up drift between regions
      val third = args.seconds / 3
      val before = w.timed(third)
      record(before)
      verified(w, before)
      tracer.start()
      val traced = try w.timed(third) finally tracer.pause()
      record(traced)
      e2eOf(traced).foreach { case (k, v) => e2e(k) = (v, units(k)) }
      verified(w, traced)
      w.layerMetrics(traced)
      sparkMetrics(traced)
      tracer.selfSeconds.foreach { case (l, s) => lm(s"self_s.$l", s, "s") }
      val after = w.timed(third)
      record(after)
      verified(w, after)
      val (b, a) = (e2eOf(before).toMap, e2eOf(after).toMap)
      e2eOf(traced).foreach { case (k, v) =>
        lm(s"trace.overhead.$k", v - (b(k) + a(k)) / 2, units(k)) }
    }
    info ++= w.shape
    digestList = if (args.smoke) w.digests else Nil
    log("done")
  }

  private def record(t: Timed): Unit = {
    attempted += t.attempted
    failed += t.failed
    summary("storage_mb") = (t.storageMb, "MB")
  }

  private def sparkMetrics(t: Timed): Unit = {
    val c = tracer.total
    val wall = t.wallNs / 1e9
    lm("spark.jobs", c.jobs.sum.toDouble, "count")
    lm("spark.stages", c.stages.sum.toDouble, "count")
    lm("spark.tasks", c.tasks.sum.toDouble, "count")
    lm("spark.task_s", c.taskMs.sum / 1e3, "s")
    lm("spark.task_gc_s", c.taskGcMs.sum / 1e3, "s")
    lm("spark.busy_ratio", c.taskMs.sum / 1e3 / (wall * args.cpus), "ratio")
    lm("spark.shuffle_write_mb", c.shuffleWrite.sum / 1048576.0, "MB")
    lm("spark.shuffle_read_mb", c.shuffleRead.sum / 1048576.0, "MB")
    lm("spark.spill_mb", c.spill.sum / 1048576.0, "MB")
    lm("spark.codegen_n", regionCodegen._1.toDouble, "count")
    lm("spark.codegen_ms", regionCodegen._2 / 1e6, "ms")
    lm("spark.analysis_ms", c.analysisMs.sum.toDouble, "ms")
    lm("spark.optimization_ms", c.optimizationMs.sum.toDouble, "ms")
    lm("spark.planning_ms", c.planningMs.sum.toDouble, "ms")
    lm("spark.driver_gc_s", regionGcS, "s")
    lm("spark.storage_mb", t.storageMb, "MB")
  }

  /** Codegen and JVM GC deltas over the traced region, set by
    * [[region]]. */
  var regionCodegen: (Long, Long) = (0L, 0L)
  var regionGcS: Double = 0.0
  private def gcMs: Long = {
    var t = 0L
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }

  /** Run the timed body; returns (result, wall ns). Also records the
    * codegen and GC deltas of the region. */
  def region[T](body: => T): (T, Long) = {
    val (cg0, cgNs0, gc0) = (tracer.codegenCount, tracer.codegenNs, gcMs)
    val t0 = System.nanoTime
    val r = body
    val wall = System.nanoTime - t0
    regionCodegen = (tracer.codegenCount - cg0, tracer.codegenNs - cgNs0)
    regionGcS = (gcMs - gc0) / 1e3
    (r, wall)
  }

  def write(): Unit = {
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
      Json.obj(m.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    val rt = Runtime.getRuntime
    val prov = Seq(
      "workload" -> Json.str(args.workload), "seed" -> args.seed.toString,
      "seconds" -> Json.num(args.seconds), "trace" -> args.trace.toString,
      "size" -> Json.str(if (args.smoke) "smoke" else "full"),
      "cpus" -> args.cpus.toString,
      "heap_max_mb" -> (rt.maxMemory / 1048576).toString,
      "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "run_id" -> Json.str(tracer.runId)) ++
      info.toSeq.map { case (k, v) => k -> Json.str(v) }
    val body = Json.obj(Seq(
      "correct" -> (checks.nonEmpty && checks.forall(_._2) &&
        failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "end_to_end" -> metrics(e2e),
      "per_layer" -> metrics(layer),
      "summary" -> metrics(summary),
      "checks" -> Json.arr(checks.toSeq.map { case (n, ok, d) =>
        Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString,
          "detail" -> Json.str(d.take(2000)))) }),
      "digests" -> Json.obj(digestList.map { case (k, v) => k -> Json.str(v) }),
      "provenance" -> Json.obj(prov)))
    val out = java.nio.file.Paths.get(args.out)
    java.nio.file.Files.writeString(out, body + "\n")
    if (args.trace)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(args.out.stripSuffix(".json") + ".spans.jsonl"),
        tracer.spansJson + "\n")
  }
}
