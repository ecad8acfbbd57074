package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Listener counts of one job group (one query part of one pass). */
final class Counts {
  var jobs, stages, tasks, failedTasks = 0L
  var executions, analysisMs, optimizerMs, planningMs = 0L
  var taskDelayMs, runMs, cpuNs, deserMs, gcMs, fetchWaitMs = 0L
  var shuffleWriteB, shuffleReadB, spillB, blocksWrittenB = 0L
  /** (submission, completion) epoch ms of every completed stage. */
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: Counts): Counts = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; executions += o.executions
    analysisMs += o.analysisMs; optimizerMs += o.optimizerMs
    planningMs += o.planningMs; taskDelayMs += o.taskDelayMs
    runMs += o.runMs; cpuNs += o.cpuNs; deserMs += o.deserMs; gcMs += o.gcMs
    fetchWaitMs += o.fetchWaitMs; shuffleWriteB += o.shuffleWriteB
    shuffleReadB += o.shuffleReadB; spillB += o.spillB
    blocksWrittenB += o.blocksWrittenB; stageSpans ++= o.stageSpans
    this
  }

  /** Wall ms of [fromMs, toMs] that no stage of these counts covers. */
  def idleMs(fromMs: Long, toMs: Long): Long = {
    var covered = 0L
    var reach = fromMs
    stageSpans.map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    (toMs - fromMs) - covered
  }

  private def mb(b: Long): Double = b / 1048576.0

  /** The per-layer metrics these counts give, by their benchmark names. */
  def metrics: Seq[(String, Double)] = Seq(
    "plans.analysis_ms" -> analysisMs.toDouble,
    "plans.optimizer_ms" -> optimizerMs.toDouble,
    "plans.planning_ms" -> planningMs.toDouble,
    "plans.executions" -> executions.toDouble,
    "sched.jobs" -> jobs.toDouble,
    "sched.stages" -> stages.toDouble,
    "sched.tasks" -> tasks.toDouble,
    "sched.task_delay_s" -> taskDelayMs / 1e3,
    "exec.run_s" -> runMs / 1e3,
    "exec.cpu_s" -> cpuNs / 1e9,
    "exec.deser_s" -> deserMs / 1e3,
    "exec.gc_s" -> gcMs / 1e3,
    "exec.failed_tasks" -> failedTasks.toDouble,
    "shuffle.write_mb" -> mb(shuffleWriteB),
    "shuffle.read_mb" -> mb(shuffleReadB),
    "shuffle.fetch_wait_s" -> fetchWaitMs / 1e3,
    "shuffle.spill_mb" -> mb(spillB),
    "storage.blocks_written_mb" -> mb(blocksWrittenB))
}

/** Spark's public listeners, keyed by job group.
  *
  * Each job, stage, task and cached/checkpointed block is charged to the
  * job group that was set on the driver thread when it started: `Main`
  * sets one group per query part and pass, so no timing window has to
  * guess which query an asynchronously delivered event belongs to. Events
  * without a group (cleaner jobs, drain markers) are dropped.
  *
  * A `QueryExecutionListener` callback carries no job group, so a SQL
  * execution's Catalyst phases are charged to the query part whose
  * driver-side window ([[mark]]) holds the execution's first phase start.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val groups = mutable.HashMap.empty[String, Counts]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]
  private val rddGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val ended = mutable.HashSet.empty[String]
  /** (group, from, to) epoch-ms windows of query parts on the driver. */
  private val windows = mutable.ArrayBuffer.empty[(String, Long, Long)]
  /** (first phase start ms, analysis, optimizer, planning ms) not yet charged. */
  private val pending = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
  private var lastPhaseMs = 0L

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  private def counts(g: String): Counts = groups.getOrElseUpdate(g, new Counts)

  /** Record that the driver ran `group` during [fromMs, toMs]. */
  def mark(group: String, fromMs: Long, toMs: Long): Unit = synchronized {
    windows += ((group, fromMs, toMs))
  }

  /** Counts of every group `keep` selects, summed. */
  def total(keep: String => Boolean): Counts = synchronized {
    pending.filterInPlace { case (at, a, o, p) =>
      windows.find(w => w._2 <= at && at <= w._3) match {
        case Some((g, _, _)) =>
          val c = counts(g)
          c.executions += 1; c.analysisMs += a; c.optimizerMs += o; c.planningMs += p
          false
        case None => true
      }
    }
    groups.iterator.filter(kv => keep(kv._1)).foldLeft(new Counts)(_ add _._2)
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    drain(spark)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  private var drains = 0

  /** Block until every event posted so far has reached this listener: run
    * one tiny SQL action under a fresh group and wait for its job end and
    * its execution callback (both are delivered in posting order). */
  def drain(spark: SparkSession): Unit = {
    drains += 1
    val g = s"drain-$drains"
    val t0 = System.currentTimeMillis()
    spark.sparkContext.setJobGroup(g, "drain")
    spark.range(1).write.format("noop").mode("overwrite").save()
    spark.sparkContext.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!synchronized(ended(g) && lastPhaseMs >= t0) && System.nanoTime() < deadline)
      Thread.sleep(2)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      counts(g).jobs += 1
      jobGroup(e.jobId) = g
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach(ended += _)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    groupOf(e.properties).orElse(stageGroup.get(info.stageId)).foreach { g =>
      stageGroup(info.stageId) = g
      info.rddInfos.foreach(r => rddGroup(r.id) = g)
    }
    info.submissionTime.foreach(t => stageSubmit(info.stageId) = t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageGroup.get(info.stageId).foreach { g =>
      val c = counts(g)
      c.stages += 1
      for (s <- info.submissionTime; f <- info.completionTime) c.stageSpans += ((s, f))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = counts(g)
      c.tasks += 1
      if (!e.taskInfo.successful) c.failedTasks += 1
      stageSubmit.get(e.stageId).foreach { s =>
        c.taskDelayMs += math.max(0L, e.taskInfo.launchTime - s)
      }
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.deserMs += m.executorDeserializeTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillB += m.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.storageLevel.isValid) b.blockId match {
      case RDDBlockId(rdd, _) =>
        rddGroup.get(rdd).foreach(counts(_).blocksWrittenB += b.memSize + b.diskSize)
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    phases(qe)

  private def phases(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) {
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      val at = ph.valuesIterator.map(_.startTimeMs).min
      pending += ((at, ms(QueryPlanningTracker.ANALYSIS),
        ms(QueryPlanningTracker.OPTIMIZATION), ms(QueryPlanningTracker.PLANNING)))
      lastPhaseMs = math.max(lastPhaseMs, at)
    }
  }
}
