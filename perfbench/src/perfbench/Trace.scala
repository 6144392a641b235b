package perfbench

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Local properties the harness sets around each call into graft. Spark
  * copies a thread's local properties onto every job it submits, and
  * adaptive query execution copies them onto its pool threads too, so each
  * job carries the harness call (`Op`), the phase of that call (`Phase`)
  * and the iteration (`Iter`) it ran under. */
object Tags {
  val Op = "perfbench.op"
  val Phase = "perfbench.phase"
  val Iter = "perfbench.iter"
}

/** Task metrics summed over one job's tasks. */
final class TaskSums {
  var tasks = 0L
  var failures = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakExecMem = 0L
  var stages = 0L
}

/** One Spark job as the listener saw it.
  *
  * `module` is the graft layer the job is attributed to and `via` says how:
  *  - "callsite": the job's own call site names a graft frame (the innermost
  *    `graft.` frame of the submitting thread's stack);
  *  - "execution": the job ran on a pool thread without graft frames (the
  *    `withThreadLocalCaptured at CompletableFuture.java` call site of
  *    adaptive execution), and its `spark.sql.execution.id` leads to a SQL
  *    execution whose call site names a graft frame;
  *  - "sampled": a pool-thread job with no SQL execution, started by
  *    adaptive execution while the harness thread sat inside a graft call
  *    that materializes a plan eagerly; the innermost `graft.` frame of the
  *    harness thread's stack, sampled when the listener sees the job;
  *  - "harness": neither names a graft frame, so the job is the harness's own
  *    action on the frame a graft call returned, and belongs to that call's
  *    module;
  *  - "unattributed": none of the above. */
final case class JobRec(id: Int, submitMs: Long, op: String, phase: String,
    iter: String, module: String, via: String, callSite: String,
    sums: TaskSums = new TaskSums)

/** A query the session planned and ran as an action: its planning time
  * (analysis + optimization + physical planning) and when planning began. */
final case class PlannedQuery(funcName: String, planStartMs: Long, planMs: Double)

/** Collects jobs, stages, tasks and SQL executions from the listener bus,
  * and planning times from the query-execution listener. Everything stays
  * in memory; the harness reads it after draining the bus. */
final class Trace(harnessThread: Thread) extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val planned = new ConcurrentLinkedQueue[PlannedQuery]()
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val execCallSite = mutable.HashMap.empty[Long, (String, Option[Long])]

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      execCallSite(e.executionId) = (e.details, e.rootExecutionId.map(_.asInstanceOf[Long]))
    case _ =>
  }

  private def prop(p: Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")

  private def execModule(id: Long, depth: Int = 0): Option[String] =
    execCallSite.get(id).flatMap { case (details, root) =>
      Trace.moduleOf(details).orElse(
        root.filter(r => r != id && depth < 4).flatMap(execModule(_, depth + 1)))
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    val op = prop(p, Tags.Op)
    val result = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    val callSite = result.map(_.details).getOrElse("")
    val execId = prop(p, "spark.sql.execution.id")
    val opModule = Some(op).filter(_.nonEmpty).map(Trace.opModule)
    val exec = Some(execId).filter(_.nonEmpty).flatMap(x => execCallSite.get(x.toLong))
    val (module, via) = Trace.moduleOf(callSite).map(_ -> "callsite")
      .orElse(Some(execId).filter(_.nonEmpty).flatMap(x => execModule(x.toLong))
        .map(_ -> "execution"))
      .orElse(opModule.filter(_ => exec.exists(e => Trace.fromHarness(e._1)) ||
        Trace.fromHarness(callSite)).map(_ -> "harness"))
      .orElse(Some(harnessThread).filter(_ => exec.isEmpty && Trace.fromPool(callSite))
        .flatMap(t => Trace.moduleOf(t.getStackTrace.map(f =>
          s"${f.getClassName}.${f.getMethodName}").mkString("\n")))
        .map(_ -> "sampled"))
      .getOrElse("none" -> "unattributed")
    val rec = JobRec(e.jobId, e.time, op, prop(p, Tags.Phase), prop(p, Tags.Iter),
      module, via, result.map(_.name).getOrElse(""))
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = rec)
    jobs.add(rec)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageJob.get(e.stageInfo.stageId).foreach(_.sums.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageJob.get(e.stageId).foreach { j =>
      val s = j.sums
      s.tasks += 1
      if (e.reason != Success) s.failures += 1
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.diskBytesSpilled
        s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) {
      val planMs = phases.iterator.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
      planned.add(PlannedQuery(funcName, phases.iterator.map(_.startTimeMs).min, planMs))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def jobList: Seq[JobRec] = jobs.asScala.toSeq.sortBy(_.id)
  def plannedList: Seq[PlannedQuery] = planned.asScala.toSeq.sortBy(_.planStartMs)
}

object Trace {
  /** The graft layer of the innermost `graft.` frame in a call-site stack,
    * e.g. `graft.sources.PrefixSum$.withPrefixSumTotal(PrefixSum.scala:49)`
    * gives `sources.prefixsum`. */
  def moduleOf(stack: String): Option[String] =
    stack.linesIterator.map(_.trim).collectFirst {
      case l if l.startsWith("graft.") => layer(l)
    }

  private def layer(frame: String): String = {
    val parts = frame.split('.')
    val pkg = parts(1)
    if (pkg.head.isUpper) "graft"
    else if (pkg == "sources") parts(2).takeWhile(_ != '$') match {
      case "Indexed"   => "sources.indexed"
      case "PrefixSum" => "sources.prefixsum"
      case _           => "sources"
    }
    else pkg
  }

  /** True for a call site with no user frames: a job submitted from a
    * thread pool (adaptive execution's `withThreadLocalCaptured`). */
  def fromPool(stack: String): Boolean =
    !stack.linesIterator.exists(l => l.trim.startsWith("perfbench.") || l.trim.startsWith("graft."))

  /** True for a call site whose first user frame is the harness itself. */
  def fromHarness(stack: String): Boolean =
    stack.linesIterator.map(_.trim).find(l => l.startsWith("perfbench.") || l.startsWith("graft."))
      .exists(_.startsWith("perfbench."))

  /** The layer of a harness call name such as `text.curateFull`. */
  def opModule(op: String): String = op.takeWhile(_ != '.')
}
