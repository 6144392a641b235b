package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One measured unit of work: a stream epoch, a curation call, an ANN round
  * or index build. Its counters come from the jobs tagged with `label`.
  * `values` holds what the harness timed itself. */
final case class Step(label: String, kind: String, startMs: Long, endMs: Long,
    values: Map[String, Double])

/** The environment a record was taken in, so records are compared only
  * like with like. */
object Env {
  private def read(p: String): String =
    try Files.readString(Paths.get(p)) catch { case _: Exception => "" }

  private def memKb(key: String): Long =
    read("/proc/meminfo").linesIterator.find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def snapshot(): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "loadavg" -> read("/proc/loadavg").trim,
    "mem_total_mb" -> memKb("MemTotal") / 1024,
    "mem_avail_mb" -> memKb("MemAvailable") / 1024)

  /** Peak resident set of this JVM (VmHWM). */
  def rssPeakMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  /** The rows the input generator wrote, from its `meta.json`. */
  def inputRows(dataDir: String): Long =
    "\"rows\":\\s*(\\d+)".r.findFirstMatchIn(read(s"$dataDir/meta.json"))
      .map(_.group(1).toLong).getOrElse(-1L)

  /** A copy of graft.Bench's fixed calibration workload: a pinned hash
    * aggregate over spark.range, same size and partition count on every
    * box; the minimum of two timed runs after one untimed run. */
  def calibrate(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 200000000L, 1, 8)
        .selectExpr("xxhash64(id) & 255 AS h")
        .agg(org.apache.spark.sql.functions.sum("h")).collect()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    math.min(once(), once())
  }
}

/** Per-layer counters of each measured step, from the trace. */
object Layers {
  private def mb(bytes: Long): Double = bytes / 1e6

  def report(steps: Seq[Step], trace: Trace): Map[String, Any] = {
    val jobs = trace.jobList
    val byIter = jobs.groupBy(_.iter)
    val planned = trace.plannedList
    val rows = steps.map { s =>
      val js = byIter.getOrElse(s.label, Nil)
      val inStep = planned.filter(p => p.planStartMs >= s.startMs && p.planStartMs <= s.endMs)
      val planS = inStep.map(_.planMs).sum / 1e3
      // A stream epoch is one harness call: everything before the epoch's
      // toLocalIterator query starts planning is construction.
      val actionMs = inStep.find(_.funcName == "toLocalIterator").map(_.planStartMs)
      def phase(j: JobRec): String =
        if (j.phase == "epoch") { if (actionMs.exists(j.submitMs < _)) "construct" else "exec" }
        else j.phase
      val wall = (s.endMs - s.startMs) / 1e3
      val constructS = s.values.getOrElse("spark.construct_s",
        actionMs.map(a => (a - s.startMs) / 1e3).getOrElse(0.0))
      def sum(f: TaskSums => Long): Long = js.map(j => f(j.sums)).sum
      def mod(m: String) = js.filter(_.module == m)
      val firstMs = s.values.get("first_ms")
      val counters = mutable.LinkedHashMap[String, Double](
        "spark.construct_s" -> constructS,
        "spark.construct_jobs" -> js.count(phase(_) == "construct").toDouble,
        "spark.plan_s" -> planS,
        "spark.exec_s" -> math.max(0.0, wall - constructS - planS),
        "spark.exec_jobs" -> js.count(phase(_) == "exec").toDouble,
        "spark.stages" -> sum(_.stages).toDouble,
        "spark.tasks" -> sum(_.tasks).toDouble,
        "spark.task_failures" -> sum(_.failures).toDouble,
        "spark.executor_cpu_s" -> sum(_.cpuNs) / 1e9,
        "spark.gc_s" -> sum(_.gcMs) / 1e3,
        "spark.shuffle_write_mb" -> mb(sum(_.shuffleWrite)),
        "spark.shuffle_read_mb" -> mb(sum(_.shuffleRead)),
        "spark.spill_mb" -> mb(sum(_.spill)),
        "spark.peak_exec_mem_mb" -> mb(js.map(_.sums.peakExecMem).maxOption.getOrElse(0L)),
        "spark.unattributed_jobs" -> js.count(_.via == "unattributed").toDouble,
        "sources.indexed_jobs" -> mod("sources.indexed").size.toDouble,
        "sources.indexed_busy_s" -> mod("sources.indexed").map(_.sums.runMs).sum / 1e3,
        "sources.prefixsum_jobs" -> mod("sources.prefixsum").size.toDouble,
        "sources.prefixsum_busy_s" -> mod("sources.prefixsum").map(_.sums.runMs).sum / 1e3,
        "schemes.compile_s" -> (if (s.kind == "epoch") constructS else 0.0),
        "stream.pre_first_jobs" -> firstMs.map(f => js.count(_.submitMs < f)).getOrElse(0).toDouble,
        "stream.fetch_jobs" -> firstMs.map(f => js.count(_.submitMs >= f)).getOrElse(0).toDouble,
        "ann.read_index_jobs" -> js.count(_.op == "ann.readPqIndex").toDouble,
        "ann.probe_jobs" -> js.count(_.op == "ann.pqProbe").toDouble,
        "ann.append_jobs" -> js.count(_.op == "ann.appendPqBatch").toDouble,
        "dedup.jobs" -> mod("dedup").size.toDouble,
        "dedup.busy_s" -> mod("dedup").map(_.sums.runMs).sum / 1e3)
      s.values.foreach { case (k, v) => if (k.contains('.') && !counters.contains(k)) counters(k) = v }
      Map("label" -> s.label, "kind" -> s.kind, "counters" -> counters.toMap,
        "jobs" -> js.map(j => Map("id" -> j.id, "phase" -> phase(j), "module" -> j.module,
          "via" -> j.via, "call_site" -> j.callSite, "op" -> j.op)))
    }
    val stepJobs = steps.flatMap(s => byIter.getOrElse(s.label, Nil))
    Map("steps" -> rows,
      "attribution" -> stepJobs.groupBy(_.via).map { case (v, js) => v -> js.size },
      "modules" -> stepJobs.groupBy(_.module).map { case (m, js) => m -> js.size })
  }

}
