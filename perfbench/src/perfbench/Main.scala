package perfbench

import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.GraftSession
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Runs one workload and writes its raw samples; `run.py` turns them into
  * metrics. Usage:
  * `Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <outPrefix>`
  *
  * After a fixed number of untimed warm-up passes (the first also
  * fingerprints every step's output), it runs timed passes until
  * `seconds` have passed and at least [[MinPasses]] are done (one with
  * tracing, where each pass runs every step traced and untraced). The
  * seed only sets each pass's step order. */
object Main {
  /** Untimed passes before the clock starts. The first pass of a fresh JVM
    * is 2-3x a steady one (class loading, codegen, JIT), and the second is
    * still 10-20% slow. JIT work goes on for several more passes, which the
    * run budget cannot wait out; step medians over the timed passes damp
    * what is left of it. llm_prep's passes are the longest, and a second
    * warm-up pass would push its runs past the budget. */
  val WarmupPasses: Map[String, Int] = Map("typed_tpch" -> 2, "llm_prep" -> 1)
  val MinPasses = 3

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, secondsArg, traceArg, dir, outPrefix) = args
    val steps = Workloads.all.getOrElse(workload,
      sys.error(s"unknown workload $workload; known: ${Workloads.all.keys.mkString(", ")}"))
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val rnd = new java.util.Random(seed)
    val runtime = ManagementFactory.getRuntimeMXBean
    val loadAvgStart = cpuBean.getSystemLoadAverage
    val threads = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = GraftSession.local(threads, "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark.sparkContext)
    val runner = new Runner(spark, dir, tracer)

    def order(): Seq[Step] = {
      val a = steps.toArray
      for (i <- a.length - 1 to 1 by -1) {
        val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toSeq
    }

    val fingerprints = mutable.LinkedHashMap.empty[String, Any]
    val warmup = (0 until WarmupPasses(workload)).map { w =>
      runner.pass(order(), w, tracing = false, if (w == 0) Some(fingerprints) else None)
    }
    val setupS = (System.currentTimeMillis() - runtime.getStartTime) / 1e3

    val timedStart = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val minPasses = if (traced) 1 else MinPasses
    while (passes.length < minPasses || (System.nanoTime() - timedStart) / 1e9 < seconds) {
      System.gc() // each pass starts from the same heap state
      passes += runner.pass(order(), warmup.length + passes.length, traced, None)
    }
    val timedS = (System.nanoTime() - timedStart) / 1e9
    val kernels = if (traced) Kernels.measure(spark, dir) else Map.empty[String, Double]
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

    val raw = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "context" -> Map(
        "nproc" -> threads, "master" -> spark.sparkContext.master,
        "load_avg_start" -> loadAvgStart,
        "jvm_flags" -> runtime.getInputArguments.asScala.filterNot(_.startsWith("--add-opens")),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0),
      "session_s" -> sessionS, "setup_s" -> setupS, "timed_s" -> timedS,
      "min_timed_passes" -> MinPasses,
      "fingerprints" -> fingerprints, "warmup" -> warmup, "passes" -> passes,
      "kernels_us" -> kernels, "heap_peak_mb" -> heapPeakMb)
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    json.writeValue(new java.io.File(s"$outPrefix.raw.json"), raw)
    if (traced) json.writeValue(new java.io.File(s"$outPrefix.spans.json"), tracer.toSeq)
    spark.stop()
  }
}

/** Runs passes over the step list. A step's clock covers the build and
  * the action; releasing cached blocks afterwards is outside it. */
final class Runner(spark: SparkSession, dir: String, tracer: Tracer) {
  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private val plainSub = new Sub { def apply[A](name: String)(body: => A): A = body }

  /** One pass over `steps`. With `tracing`, every step runs twice, once
    * traced and once not, the order alternating from step to step, so the
    * tracing overhead is measured without JIT drift between passes. */
  def pass(steps: Seq[Step], index: Int, tracing: Boolean,
           fingerprints: Option[mutable.Map[String, Any]]): Map[String, Any] = {
    val cpu0 = cpuBean.getProcessCpuTime
    val t0 = System.nanoTime()
    val samples = steps.zipWithIndex.flatMap { case (step, i) =>
      val modes = if (!tracing) Seq(false) else if (i % 2 == 0) Seq(false, true) else Seq(true, false)
      modes.map(traced => sample(step, s"p$index/${step.name}", traced, fingerprints))
    }
    Map("index" -> index, "order" -> steps.map(_.name),
      "elapsed_s" -> (System.nanoTime() - t0) / 1e9,
      "cpu_s" -> (cpuBean.getProcessCpuTime - cpu0) / 1e9,
      "steps" -> samples)
  }

  private def sample(step: Step, trace: String, traced: Boolean,
                     fingerprints: Option[mutable.Map[String, Any]]): Map[String, Any] = {
    val out = mutable.LinkedHashMap[String, Any]("step" -> step.name, "traced" -> traced)
    if (traced) tracer.attach()
    val s0 = System.nanoTime()
    try {
      fingerprints match {
        case Some(fps) =>
          val fp = step.build(spark, dir, plainSub).fingerprint()
          fps(step.name) = Map("rows" -> fp.rows, "hash" -> fp.hash)
          out("rows") = fp.rows
        case None if traced => out("rows") = tracedStep(step, trace)
        case None => out("rows") = step.build(spark, dir, plainSub).exec()
      }
    } catch {
      case e: Throwable =>
        out("error") = s"${e.getClass.getName}: ${e.getMessage}".take(500)
        fingerprints.foreach(_(step.name) = Map("error" -> out("error")))
    }
    out("wall_s") = (System.nanoTime() - s0) / 1e9
    if (traced) tracer.detach()
    GraftSession.releaseCachedBlocks(spark)
    out.toMap
  }

  /** build → plan → exec, each in its own span; jobs are grouped under
    * the phase that fired them. */
  private def tracedStep(step: Step, trace: String): Long = {
    val stepSpan = tracer.open(trace, "step", step.name, -1)
    var attrs = Seq[(String, Any)]("error" -> true)
    try {
      val buildSpan = tracer.open(trace, "build", "build", stepSpan)
      val sub = new Sub {
        def apply[A](name: String)(body: => A): A = tracer.phase(trace, name, buildSpan)(body)
      }
      spark.sparkContext.setJobGroup(buildSpan.toString, trace)
      val target = try step.build(spark, dir, sub) finally tracer.close(buildSpan)
      tracer.phase(trace, "plan", stepSpan)(target.plan())
      val rows = tracer.phase(trace, "exec", stepSpan)(target.exec())
      tracer.close(stepSpan)
      val (bhj, smj) = target.executedPlan.map(JoinCounts(_)).getOrElse((0, 0))
      attrs = Seq("rows" -> rows, "bhj" -> bhj, "smj" -> smj)
      rows
    } finally {
      tracer.annotate(stepSpan, attrs: _*)
      spark.sparkContext.clearJobGroup()
    }
  }
}
