package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval of the traced run. Times are milliseconds since the
  * run's clock origin; `parent` names the span that caused this one, and
  * every span of one operation carries that operation's sequence number.
  */
final case class Span(id: String, parent: String, kind: String, op: Int,
    start: Double, end: Double, attrs: Map[String, Double] = Map.empty) {
  def dur: Double = end - start
}

/** Plan facts of one executed query: planning phase intervals, the
  * exchanges in the plan that ran (adaptive stages included), and the bytes
  * of the parquet files its scans selected after partition, bucket and file
  * pruning. Task input metrics cannot give the bytes read: the parquet
  * reader's vectored reads bypass Hadoop's per-thread byte counters.
  */
final case class PlanFacts(phases: Seq[(String, Double, Double)],
    exchanges: Int, fanout: Map[String, Int], scanFileBytes: Long)

/** Task-level counters summed over one stage. */
final class StageAgg {
  var tasks = 0L; var busyMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var inRows = 0L; var scanTasks = 0L
  var shWriteBytes = 0L; var shRecords = 0L; var fetchWaitMs = 0L
  var spillBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** Collects the traced run's spans and counters. Nothing here is
  * registered unless the run is traced, and nothing is read back until the
  * operation has finished: a [[SparkListener]] records jobs, stages and
  * tasks (tied to an operation by its job group) and a
  * [[QueryExecutionListener]] hands over each executed [[QueryExecution]].
  */
final class Tracer(spark: SparkSession, originNs: Long, originEpochMs: Long) {
  private val jobs = new ConcurrentHashMap[Int, (String, Long, Seq[Int])]()
  private val jobEnd = new ConcurrentHashMap[Int, Long]()
  private val stageTimes = new ConcurrentHashMap[Int, (Long, Long)]()
  private val stageAgg = new ConcurrentHashMap[Int, StageAgg]()
  private val executed = new ConcurrentLinkedQueue[QueryExecution]()
  private val seenStages = mutable.Set.empty[Int]
  val spans = mutable.ArrayBuffer.empty[Span]
  val plans = mutable.Map.empty[Int, Seq[PlanFacts]]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.put(e.jobId, (group, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnd.put(e.jobId, e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stageTimes.put(i.stageId, (i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val a = stageAgg.computeIfAbsent(e.stageId, _ => new StageAgg)
      a.synchronized {
        a.tasks += 1
        a.busyMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.inRows += m.inputMetrics.recordsRead
        if (m.inputMetrics.recordsRead > 0) a.scanTasks += 1
        a.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.shRecords += m.shuffleWriteMetrics.recordsWritten
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.taskMs += e.taskInfo.duration
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      executed.add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      executed.add(qe)
  }
  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def now: Double = (System.nanoTime() - originNs) / 1e6
  private def fromEpoch(ms: Long): Double = (ms - originEpochMs).toDouble

  /** Runs one operation under its job group so its jobs can be found. */
  def inGroup[T](op: Int)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"op$op", s"op$op", interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  def span[T](id: String, parent: String, kind: String, op: Int)(body: => T): T = {
    val t0 = now
    try body finally spans += Span(id, parent, kind, op, t0, now)
  }

  /** Closes an operation: waits for its events, then turns its jobs,
    * stages and query executions into child spans and plan facts.
    */
  def finishOp(op: Int): Unit = {
    org.apache.spark.BenchBridge.drainListenerBus(spark.sparkContext)
    val facts = Iterator.continually(executed.poll()).takeWhile(_ != null)
      .map(planFacts).toSeq
    plans(op) = facts
    // A job or planning phase belongs to the construct span when it started
    // inside it (eager work while the DataFrame is built), else to execute.
    val constructEnd = spans.find(_.id == s"op$op.construct").map(_.end)
      .getOrElse(Double.MinValue)
    def parentAt(t: Double) =
      if (t <= constructEnd) s"op$op.construct" else s"op$op.execute"
    facts.zipWithIndex.foreach { case (f, i) =>
      f.phases.foreach { case (phase, s, e) =>
        spans += Span(s"op$op.plan$i.$phase", parentAt(s), "plan", op, s, e)
      }
    }
    jobs.asScala.toSeq.filter(_._2._1 == s"op$op").sortBy(_._1).foreach {
      case (jobId, (_, start, stageIds)) =>
        val end = if (jobEnd.containsKey(jobId)) jobEnd.get(jobId) else start
        spans += Span(s"job$jobId", parentAt(fromEpoch(start)), "job", op,
          fromEpoch(start), fromEpoch(end))
        stageIds.filter(seenStages.add).foreach { sid =>
          Option(stageTimes.get(sid)).foreach { case (s, e) =>
            val a = Option(stageAgg.get(sid))
            spans += Span(s"stage$sid", s"job$jobId", "stage", op,
              fromEpoch(s), fromEpoch(e), a.map(stageAttrs).getOrElse(Map.empty))
          }
        }
    }
  }

  private def stageAttrs(a: StageAgg): Map[String, Double] = a.synchronized {
    val sorted = a.taskMs.sorted
    val median = if (sorted.isEmpty) 0.0 else sorted(sorted.size / 2).toDouble
    Map("tasks" -> a.tasks.toDouble, "busy_ms" -> a.busyMs.toDouble,
      "cpu_ms" -> a.cpuNs / 1e6, "gc_ms" -> a.gcMs.toDouble,
      "scan_rows" -> a.inRows.toDouble,
      "scan_tasks" -> a.scanTasks.toDouble,
      "shuffle_write_bytes" -> a.shWriteBytes.toDouble,
      "shuffle_records" -> a.shRecords.toDouble,
      "fetch_wait_ms" -> a.fetchWaitMs.toDouble,
      "spill_bytes" -> a.spillBytes.toDouble,
      "task_max_ms" -> (if (sorted.isEmpty) 0.0 else sorted.last.toDouble),
      "task_median_ms" -> median)
  }

  private def planFacts(qe: QueryExecution): PlanFacts = {
    val phases = qe.tracker.phases.toSeq
      .filter { case (name, _) => name != "parsing" }
      .map { case (name, p) => (name, fromEpoch(p.startTimeMs), fromEpoch(p.endTimeMs)) }
    val nodes = Tracer.nodes(qe.executedPlan)
    val shuffles = nodes.collect { case e: ShuffleExchangeExec => e }
    val fanout = shuffles.filter(_.shuffleOrigin == REPARTITION_BY_NUM)
      .map(e => Tracer.nodes(e.child).collectFirst {
        case s: FileSourceScanExec =>
          s.relation.location.rootPaths.headOption.map(_.getName).getOrElse("?")
      }.getOrElse("none"))
      .groupBy(identity).view.mapValues(_.size).toMap
    val scanFileBytes = nodes.collect { case s: FileSourceScanExec =>
      s.metrics.get("filesSize").map(_.value).getOrElse(0L) }.sum
    PlanFacts(phases, shuffles.size, fanout, scanFileBytes)
  }
}

object Tracer {
  /** Every node of a physical plan, looking through adaptive wrappers,
    * query stages and subqueries.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _ => (p.children ++ p.subqueries).flatMap(nodes)
  })

  /** Length of the union of `parts` clipped to [start, end]. */
  def covered(start: Double, end: Double, parts: Seq[(Double, Double)]): Double = {
    val clipped = parts.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }
}
