package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM: one client issuing operations one at a time
  * (a closed loop) against a `local[nproc]` session.
  *
  * Usage: perfbench.Main <job.properties>
  *
  * The job file names the workload, seed, seconds, trace flag, inputs
  * directory, work directory and output file, plus workload parameters
  * as `param.<key>`. The run warms up, then times whole passes until the
  * time is spent, and writes every raw measurement as JSON. The first
  * warm-up pass writes each query's full result out for the caller's
  * oracle check; other ops return their values with every pass. End-to-end
  * figures are taken from untraced passes only; with tracing on, traced
  * and untraced passes interleave, and the traced ones give the per-layer
  * figures.
  */
object Main {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs: Long = os.getProcessCpuTime
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def nowMs: Double = System.nanoTime() / 1e6 - monoOffsetMs
  // epoch-aligned monotonic clock, so our spans line up with Spark's epoch event times
  private val monoOffsetMs = System.nanoTime() / 1e6 - System.currentTimeMillis()

  /** Heap still live once the last pass's memos are dropped: forced
    * collections (with pauses for Spark's cleaner to release what the
    * memos pinned), then the heap pools' usage after the last collection.
    */
  def liveHeapMb(spark: SparkSession): Double = {
    graft.SessionCache.invalidate(spark)
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  final case class OpRec(name: String, module: String, kind: String, wall_s: Double,
      build_s: Double, action_s: Double, error: String, value: Any)

  final case class PassRec(index: Int, traced: Boolean, wall_s: Double, cpu_s: Double,
      ops: Seq[OpRec], layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val job = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)))
    try job.load(in) finally in.close()
    def get(k: String) = Option(job.getProperty(k)).getOrElse(sys.error(s"job file lacks $k"))
    val workload = Workloads.byName(get("workload"))
    val seconds = get("seconds").toDouble
    val tracedRun = get("trace") == "1"
    val cores = get("cores").toInt
    val work = Paths.get(get("work")).toAbsolutePath
    val params = job.stringPropertyNames().asScala.filter(_.startsWith("param."))
      .map(k => k.stripPrefix("param.") -> job.getProperty(k)).toMap

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session(cores, work)
    val sessionReadyMs = System.currentTimeMillis().toDouble
    val ctx = new Ctx(spark, Paths.get(get("inputs")).toAbsolutePath.toString, work,
      get("seed").toLong, params)
    val probe = new Probe
    val spans = mutable.ArrayBuffer.empty[Span]
    var nextSpan = 0
    def newId(): Int = { nextSpan += 1; nextSpan }

    val checkDir = work.resolve("check")

    def runOp(op: Op, passIdx: Int, k: Int, passSpan: Int,
        layer: mutable.Map[String, Double], check: Boolean): OpRec = {
      val sc = spark.sparkContext
      val opId = s"p$passIdx.$k"
      sc.setLocalProperty("perfbench.op", opId)
      sc.setLocalProperty("perfbench.phase", "build")
      val t0 = nowMs
      var t1 = t0
      var err: String = null
      var value: Any = null
      try {
        val step = op.build()
        t1 = nowMs
        sc.setLocalProperty("perfbench.phase", "action")
        value = step.frame.filter(_ => check) match {
          case Some(df) =>
            val out = checkDir.resolve(op.name).toString
            df.write.mode("overwrite").parquet(out)
            Map("rows" -> spark.read.parquet(out).count())
          case None => step.act()
        }
      } catch {
        case NonFatal(e) =>
          if (t1 == t0) t1 = nowMs
          err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      } finally {
        sc.setLocalProperty("perfbench.op", null)
        sc.setLocalProperty("perfbench.phase", null)
      }
      val t2 = nowMs
      if (layer != null) attribute(op, opId, passSpan, t0, t1, t2, layer)
      OpRec(op.name, op.module, op.kind, (t2 - t0) / 1e3, (t1 - t0) / 1e3, (t2 - t1) / 1e3,
        err, value)
    }

    def attribute(op: Op, opId: String, passSpan: Int, t0: Double, t1: Double, t2: Double,
        layer: mutable.Map[String, Double]): Unit = {
      PerfbenchBus.drain(spark.sparkContext)
      def add(k: String, v: Double): Unit = layer(k) = layer.getOrElse(k, 0.0) + v
      def max(k: String, v: Double): Unit = layer(k) = layer.getOrElse(k, 0.0).max(v)
      val qes = probe.takeExecutions()
      val planIv = PlanMetrics.planIntervals(qes)
      val planInAction = planIv.map { case (a, b) => (b.min(t2) - a.max(t1)).max(0.0) }.sum / 1e3
      val opSpan = newId()
      val buildSpan = newId()
      val actionSpan = newId()
      spans += Span(opSpan, passSpan, "op", op.name, opId, t0, t2)
      spans += Span(buildSpan, opSpan, "build", op.name, opId, t0, t1)
      spans += Span(actionSpan, opSpan, "exec", op.name, opId, t1, t2)
      planIv.foreach { case (a, b) =>
        val parent = if (a >= t1) actionSpan else buildSpan
        spans += Span(newId(), parent, "plan", op.name, opId, a, b)
      }
      spans ++= probe.jobSpans(opId, ph => if (ph == "build") buildSpan else actionSpan, () => newId())

      val b = probe.taskSums(opId, "build")
      val a = probe.taskSums(opId, "action")
      add("build.s", (t1 - t0) / 1e3)
      add("build.jobs", b.jobs)
      add("exec.s", (t2 - t1) / 1e3 - planInAction)
      add("exec.jobs", a.jobs)
      add("exec.stages", a.stages)
      add("exec.tasks", a.tasks)
      add("exec.task_cpu_s", a.cpuNs / 1e9)
      add("exec.task_run_s", a.runMs / 1e3)
      add("exec.gc_s", a.gcMs / 1e3)
      add("exec.spill_mb", a.spillBytes / 1e6)
      max("exec.peak_mem_mb", a.peakMemBytes / 1e6)
      max("exec.task_skew", a.maxSkew)
      add("task.cpu_all_s", (a.cpuNs + b.cpuNs) / 1e9)
      Seq(a, b).foreach { s =>
        add("shuffle.write_mb", s.shuffleWriteBytes / 1e6)
        add("shuffle.read_mb", s.shuffleReadBytes / 1e6)
        add("shuffle.records", s.shuffleRecords)
        add("shuffle.fetch_wait_s", s.fetchWaitMs / 1e3)
        add("shuffle.write_s", s.shuffleWriteNs / 1e9)
      }
      val pm = PlanMetrics.sums(qes)
      pm.foreach { case (k, v) => if (k != "op.join.max_rows") add(k, v) }
      // the candidate rows of q41's pair build, the base of dedup.pair_yield
      if (op.name == "q41_ngram_jaccard") layer("q41.join_rows") = pm.getOrElse("op.join.max_rows", 0.0)
      add(s"mod.${op.module}.s", (t2 - t0) / 1e3)
      op.kind match {
        case "simulate" => add("actuarial.simulate_s", (t2 - t0) / 1e3)
        case "gather" => add("actuarial.gather_s", (t2 - t0) / 1e3)
        case k @ ("insert" | "merge" | "delete" | "compact" | "stream" | "read") =>
          add(s"sources.${k}_s", (t2 - t0) / 1e3)
        case _ =>
      }
      probe.forget(opId)
    }

    def runPass(idx: Int, trace: Boolean, check: Boolean = false): PassRec = {
      graft.SessionCache.invalidate(spark)
      // The probe listens to traced passes only, so untraced passes carry
      // no listener and tracing overhead is measured against a clean pass.
      if (trace) {
        probe.reset()
        spark.sparkContext.addSparkListener(probe)
        spark.listenerManager.register(probe)
      }
      val layer = if (trace) mutable.LinkedHashMap.empty[String, Double] else null
      val passSpan = if (trace) newId() else 0
      val ops = workload.pass(ctx, idx)
      val (c0, g0, j0, t0) = (cpuNs, gcMs, jitMs, nowMs)
      val recs = ops.zipWithIndex.map { case (op, k) => runOp(op, idx, k, passSpan, layer, check) }
      val t1 = nowMs
      val (c1, g1, j1) = (cpuNs, gcMs, jitMs)
      if (trace) {
        PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(probe)
        spark.listenerManager.unregister(probe)
      }
      val wall = (t1 - t0) / 1e3
      val cpu = (c1 - c0) / 1e9
      val layers = if (!trace) Map.empty[String, Double] else {
        spans += Span(passSpan, -1, "pass", s"pass $idx", s"p$idx", t0, t1)
        layer("jvm.gc_s") = (g1 - g0) / 1e3
        layer("jvm.jit_s") = (j1 - j0) / 1e3
        layer("pass.cpu_s") = cpu
        layer("driver.cpu_s") = cpu - layer.getOrElse("task.cpu_all_s", 0.0)
        val execS = layer.getOrElse("exec.s", 0.0)
        layer("exec.core_util") =
          if (execS > 0) layer.getOrElse("exec.task_run_s", 0.0) / (execS * cores) else 0.0
        val sim = layer.getOrElse("actuarial.simulate_s", 0.0)
        if (sim > 0) layer("actuarial.trials_per_s") =
          ctx.intParam("files").toDouble * ctx.intParam("policies") * ctx.intParam("sims") / sim
        workload.afterPass(ctx, idx, recs.map(_.value)).foreach { case (k, v) => layer(k) = v }
        layer.toMap
      }
      PassRec(idx, trace, wall, cpu, recs, layers)
    }

    workload.setup(ctx)
    // Warm-up passes, as many as the workload's JIT needs to settle. The
    // first doubles as the check pass: query results are written out for
    // the oracle rather than to the noop sink.
    val warm = (0 until get("warmup").toInt).map(i => runPass(i, trace = false, check = i == 0))
    val firstPassMs = System.currentTimeMillis().toDouble
    val minPasses = get("min_passes").toInt
    // An untraced run times passes until the time is spent. A traced run
    // interleaves untraced and traced passes (U T T U U T T U ...), so the
    // tracing overhead is measured against passes equally far into the
    // JVM's warm-up.
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val start = nowMs
    var counted = 0 // passes whose figures this run reports
    while (counted < minPasses || (nowMs - start) / 1e3 < seconds) {
      val trace = tracedRun && (passes.size + 1) / 2 % 2 == 1
      passes += runPass(warm.size + passes.size, trace)
      if (trace == tracedRun) counted += 1
    }
    val heapLiveMb = liveHeapMb(spark)

    val checks = warm.head.ops.collect {
      case o if o.kind == "query" =>
        val rows = o.value match {
          case m: Map[String, Any] @unchecked => m("rows").asInstanceOf[Long]
          case _ => -1L
        }
        Map("name" -> o.name, "rows" -> rows, "error" -> o.error,
          "oracle" -> graft.SparkEntry.oracleSql.get(o.name).orNull)
    }

    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("jvm_start_ms", jvmStartMs)
    out.put("session_ready_ms", sessionReadyMs)
    out.put("first_pass_ms", firstPassMs)
    out.put("warmup", warm)
    out.put("heap_live_mb", heapLiveMb)
    out.put("cores", cores)
    out.put("spark_version", spark.version)
    out.put("java_version", System.getProperty("java.version"))
    out.put("passes", passes.toSeq)
    out.put("checks", checks)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    mapper.writeValue(Paths.get(get("out")).toFile, out)
    if (tracedRun) mapper.writeValue(work.resolve("spans.json").toFile, spans.toSeq)
    spark.stop()
  }
}
