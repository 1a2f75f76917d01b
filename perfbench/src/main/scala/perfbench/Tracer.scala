package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Catalyst phases of every SQL execution in the JVM, child sessions
  * included: registered through the static `spark.sql.queryExecutionListeners`
  * conf, so every session the engine creates reports here. */
class CatalystListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    CatalystListener.record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    CatalystListener.record(qe)
}

object CatalystListener extends AdaptiveSparkPlanHelper {
  final case class Rec(atMs: Long, analysisMs: Long, optimizationMs: Long,
                       planningMs: Long, cacheScans: Int)
  @volatile var enabled = false
  val recs = new ConcurrentLinkedQueue[Rec]()

  private def record(qe: QueryExecution): Unit = if (enabled) {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
    val at = ph.values.map(_.endTimeMs).maxOption.getOrElse(System.currentTimeMillis())
    val scans = try collectWithSubqueries(qe.executedPlan) { case s: InMemoryTableScanExec => s }.size
    catch { case _: Throwable => 0 }
    recs.add(Rec(at, ms("analysis"), ms("optimization"), ms("planning"), scans)); ()
  }
}

/** Listener-side tracing for one run: jobs, stages, tasks, SQL executions,
  * streaming progress and cached-block fills, recorded only while
  * `enabled`; spans are kept in memory and summarised by [[write]]. */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val sqls = new java.util.concurrent.ConcurrentHashMap[Long, Sql]()
  private val batches = new ConcurrentLinkedQueue[Batch]()
  private val streamStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  private val seenRdds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val fills = new ConcurrentLinkedQueue[java.lang.Long]()

  @volatile private var on = false
  def enabled: Boolean = on
  def enabled_=(v: Boolean): Unit = { on = v; CatalystListener.enabled = v }

  private def tagOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Runner.TagKey))).getOrElse("")

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val sqlId = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, Job(e.jobId, e.time, -1L, tagOf(e.properties), sqlId, e.stageIds)); ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (on) { stageTag.put(e.stageInfo.stageId, tagOf(e.properties)); () }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      if (stageTag.containsKey(i.stageId))
        stages.add(Stage(i.stageId, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
          stageTag.get(i.stageId)))
      ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageTag.containsKey(e.stageId) && e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks.add(Task(e.stageId, e.taskInfo.successful, m.executorRunTime, m.executorCpuTime,
          m.jvmGCTime, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)); ()
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      info.blockId.asRDDId.foreach { b =>
        if (info.storageLevel.isValid && seenRdds.add(b.rddId) && on)
          fills.add(System.currentTimeMillis())
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = if (on) e match {
      case s: SparkListenerSQLExecutionStart => sqls.put(s.executionId, Sql(s.executionId, s.time, -1L)); ()
      case s: SparkListenerSQLExecutionEnd => Option(sqls.get(s.executionId)).foreach(_.endMs = s.time)
      case _: StreamingQueryListener.QueryStartedEvent => streamStarts.add(System.currentTimeMillis()); ()
      case p: StreamingQueryListener.QueryProgressEvent =>
        val g = p.progress
        val start = java.time.Instant.parse(g.timestamp).toEpochMilli
        val ops = Option(g.stateOperators).toSeq.flatten
        batches.add(Batch(g.runId.toString, start, start + g.batchDuration,
          g.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum)); ()
      case _ =>
    }
  })

  /** Per-layer totals over `execs` (the traced measured executions), the
    * per-query span trees with self times per layer, and the
    * reconciliation of the listener's spans against the client's timing. */
  def summary(execs: Seq[Runner.Exec]): Map[String, Any] = {
    val tagged = execs.map(e => s"${e.pass}:${e.name}" -> e).toMap
    def within(t: Long, e: Runner.Exec) = t >= e.startMs && t <= e.endMs
    def owner(tag: String, t: Long): Option[Runner.Exec] =
      tagged.get(tag).orElse(execs.find(e => within(t, e)))
    val jobList = jobs.values.asScala.toSeq.map(jb => if (jb.endMs < 0) jb.copy(endMs = jb.startMs) else jb)
    val jobOwner = jobList.flatMap(jb => owner(jb.tag, jb.startMs).map(jb -> _))
    val stageList = stages.asScala.toSeq
    val stageOwner = stageList.flatMap(st => owner(st.tag, st.startMs).map(st.id -> _)).toMap
    val taskList = tasks.asScala.toSeq.filter(t => stageOwner.contains(t.stageId))
    val sqlList = sqls.values.asScala.toSeq.map(s => if (s.endMs < 0) s.copy(endMs = s.startMs) else s)
    val batchList = batches.asScala.toSeq
    val cat = CatalystListener.recs.asScala.toSeq.filter(r => execs.exists(within(r.atMs, _)))

    def union(iv: Seq[(Long, Long)]): Long = {
      var covered = 0L
      var cursor = Long.MinValue
      iv.sortBy(_._1).foreach { case (s, e) =>
        val s1 = math.max(s, cursor)
        if (e > s1) { covered += e - s1; cursor = e }
      }
      covered
    }
    val jobsByExec = jobOwner.groupBy(_._2).map { case (e, js) => e -> js.map(_._1) }
    var gapMs = 0L
    var jobUnionMs = 0L
    execs.foreach { e =>
      val iv = jobsByExec.getOrElse(e, Nil).map(jb => (math.max(jb.startMs, e.startMs), math.min(jb.endMs, e.endMs)))
      val u = union(iv)
      jobUnionMs += u
      gapMs += (e.endMs - e.startMs) - u
    }
    val streamExecs = execs.filter(_.name.startsWith("st_"))
    val streamBatches = batchList.filter(b => streamExecs.exists(within(b.startMs, _)))
    def dsum(k: String) = streamBatches.map(_.d.getOrElse(k, 0L)).sum / 1e3
    val triggerS = dsum("triggerExecution")
    val taskS = taskList.map(_.runMs).sum / 1e3

    // Span trees: query > build|action > streaming batch > SQL execution
    // > job > stage. Explicit links (job -> SQL execution id, stage ->
    // the first job that lists it) win; otherwise the innermost enclosing
    // span of a higher layer.
    val layers = Seq("query", "build", "action", "batch", "sql", "job", "stage")
    val selfTotals = scala.collection.mutable.LinkedHashMap(layers.map(_ -> 0.0): _*)
    var reconciled = 0
    var lostTotalMs = 0.0
    val perQuery = execs.map { e =>
      val s0 = e.startMs
      val s2 = e.endMs
      val s1 = math.min(s2, s0 + math.round(e.buildS * 1e3))
      val spans = scala.collection.mutable.ArrayBuffer(
        Span("query", e.name, s0, s2, -1), Span("build", e.name, s0, s1, 0), Span("action", e.name, s1, s2, 0))
      // The listener's own duration of each span, before any clipping.
      val raw = scala.collection.mutable.ArrayBuffer[Long](0L, 0L, 0L)
      def add(layer: String, name: String, a: Long, z: Long, parent: Int): Unit = {
        raw += math.max(0L, z - a)
        val a1 = math.min(math.max(a, s0), s2)
        spans += Span(layer, name, a1, math.max(a1, math.min(z, s2)), parent)
      }
      def enclosing(a: Long, b: Long, ok: String => Boolean): Int = {
        val cands = spans.indices.filter(i => ok(spans(i).layer) && spans(i).start <= a && spans(i).end >= b)
        if (cands.isEmpty) 0 else cands.minBy(i => spans(i).end - spans(i).start)
      }
      // Batches and SQL executions belong to the query they start in, as
      // jobs and stages do (by tag, else by start time).
      val upToBatch = Set("query", "build", "action")
      batchList.filter(b => b.startMs >= s0 && b.startMs <= s2).sortBy(_.startMs).foreach { b =>
        add("batch", b.runId, b.startMs, b.endMs, enclosing(b.startMs, b.endMs, upToBatch))
      }
      val sqlIdx = scala.collection.mutable.Map.empty[Long, Int]
      sqlList.filter(s => s.startMs >= s0 && s.startMs <= s2).sortBy(_.startMs).foreach { s =>
        sqlIdx(s.id) = spans.size
        add("sql", s.id.toString, s.startMs, s.endMs, enclosing(s.startMs, s.endMs, upToBatch + "batch"))
      }
      val jobIdx = scala.collection.mutable.Map.empty[Int, Int]
      val myJobs = jobsByExec.getOrElse(e, Nil).sortBy(_.startMs)
      myJobs.foreach { jb =>
        val p = sqlIdx.getOrElse(jb.sqlId, enclosing(jb.startMs, jb.endMs, upToBatch + "batch" + "sql"))
        jb.stages.foreach(st => if (!jobIdx.contains(st)) jobIdx(st) = spans.size)
        add("job", jb.id.toString, jb.startMs, jb.endMs, p)
      }
      val myStages = stageList.filter(st => stageOwner.get(st.id).contains(e))
      myStages.foreach { st =>
        add("stage", st.id.toString, st.startMs, st.endMs,
          jobIdx.getOrElse(st.id, enclosing(st.startMs, st.endMs, _ != "stage")))
      }
      // Clip every span to its parent, then share each instant of the
      // window equally among the innermost spans active at it (a span
      // with no active child): concurrent stages or jobs split the
      // time they overlap instead of each claiming it.
      (1 until spans.size).foreach { i =>
        val sp = spans(i); val pa = spans(sp.parent)
        val a = math.min(math.max(sp.start, pa.start), pa.end)
        spans(i) = sp.copy(start = a, end = math.max(a, math.min(sp.end, pa.end)))
      }
      val self = Array.fill(spans.size)(0.0)
      val cuts = spans.flatMap(sp => Seq(sp.start, sp.end)).distinct.sorted
      cuts.zip(cuts.drop(1)).foreach { case (a, z) =>
        val active = spans.indices.filter(i => spans(i).start <= a && spans(i).end >= z)
        val parents = active.map(spans(_).parent).toSet
        val leaves = active.filterNot(parents.contains)
        leaves.foreach(i => self(i) += (z - a).toDouble / leaves.size)
      }
      // Reconciliation against sources the tree does not derive from.
      // Clipped: listener time (batch, SQL, job, stage) that falls
      // outside the parent it was given or outside the client-timed
      // window, i.e. time the tree would silently hand to a parent.
      // Overcommit: executor-reported task time that cannot fit in the
      // wall of the stages it was attributed to on `cores` slots.
      val clippedMs = (3 until spans.size).map(i => raw(i) - (spans(i).end - spans(i).start)).sum.toDouble
      val myStageIds = myStages.map(_.id).toSet
      val stageUnionMs = union(myStages.map(st => (st.startMs, st.endMs)))
      val taskMs = taskList.filter(t => myStageIds.contains(t.stageId)).map(_.runMs).sum
      val overcommitMs = math.max(0.0, taskMs.toDouble / cores - stageUnionMs)
      val wall = e.buildS * 1e3 + e.actionS * 1e3
      val lostMs = clippedMs + overcommitMs
      lostTotalMs += lostMs
      val ok = lostMs <= math.max(2.0, 0.05 * wall)
      if (ok) reconciled += 1
      val selfMs = layers.map { l =>
        val v = spans.indices.filter(spans(_).layer == l).map(self(_)).sum
        selfTotals(l) += v
        l -> v
      }.toMap
      Map(
        "query" -> e.name, "pass" -> e.pass, "wall_ms" -> wall, "window_ms" -> (s2 - s0),
        "clipped_ms" -> clippedMs, "overcommit_ms" -> overcommitMs, "reconciled" -> ok,
        "self_ms" -> selfMs,
        "spans" -> spans.map(sp => Seq(sp.layer, sp.name, sp.start - s0, sp.end - s0, sp.parent)))
    }

    Map(
      "queries.build_s" -> execs.map(_.buildS).sum,
      "queries.action_s" -> execs.map(_.actionS).sum,
      "catalyst.executions" -> cat.size,
      "catalyst.analysis_s" -> cat.map(_.analysisMs).sum / 1e3,
      "catalyst.optimization_s" -> cat.map(_.optimizationMs).sum / 1e3,
      "catalyst.planning_s" -> cat.map(_.planningMs).sum / 1e3,
      "driver.gap_s" -> gapMs / 1e3,
      "job_union_s" -> jobUnionMs / 1e3,
      "driver.jobs" -> jobOwner.size,
      "exec.stages" -> stageOwner.size,
      "exec.tasks" -> taskList.size,
      "exec.failed_tasks" -> taskList.count(!_.ok),
      "exec.task_s" -> taskS,
      "exec.cpu_s" -> taskList.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> taskList.map(_.gcMs).sum / 1e3,
      "exec.input_mb" -> taskList.map(_.inputB).sum / 1e6,
      "exec.shuffle_read_mb" -> taskList.map(_.shReadB).sum / 1e6,
      "exec.shuffle_write_mb" -> taskList.map(_.shWriteB).sum / 1e6,
      "exec.spill_mb" -> taskList.map(_.spillB).sum / 1e6,
      "exec.busy_frac" -> (if (jobUnionMs > 0) taskS / (jobUnionMs / 1e3 * cores) else 0.0),
      "ops.cache_scans" -> cat.map(_.cacheScans).sum,
      "ops.cache_fills" -> fills.asScala.count(t => execs.exists(within(t, _))),
      "streaming.queries" -> streamStarts.asScala.count(t => streamExecs.exists(within(t, _))),
      "streaming.batches" -> streamBatches.size,
      "streaming.trigger_s" -> triggerS,
      "streaming.add_batch_s" -> dsum("addBatch"),
      "streaming.planning_s" -> dsum("queryPlanning"),
      "streaming.wal_commit_s" -> (dsum("walCommit") + dsum("commitOffsets")),
      "streaming.state_commit_s" -> streamBatches.map(_.stateCommitMs).sum / 1e3,
      "streaming.state_rows" -> streamBatches.groupBy(_.runId).values.map(_.maxBy(_.startMs).stateRows).sum,
      "streaming.lifecycle_s" -> (if (streamExecs.isEmpty) 0.0 else streamExecs.map(_.buildS).sum - triggerS),
      "streaming.tmp_entries" -> streamExecs.map(_.tmpDelta).sum,
      "per_query" -> perQuery,
      "self_s" -> selfTotals.map { case (l, v) => l -> v / 1e3 }.toMap,
      "reconciled_queries" -> reconciled,
      "traced_queries" -> execs.size,
      "lost_s" -> lostTotalMs / 1e3,
      // Recorded while tracing was on, but outside every traced query.
      "unowned_jobs" -> (jobList.size - jobOwner.size),
      "unowned_stages" -> (stageList.size - stageOwner.size))
  }
}

object Tracer {
  final case class Job(id: Int, startMs: Long, var endMs: Long, tag: String,
                       sqlId: Long, stages: Seq[Int])
  final case class Stage(id: Int, startMs: Long, endMs: Long, tag: String)
  final case class Task(stageId: Int, ok: Boolean, runMs: Long, cpuNs: Long, gcMs: Long,
                        inputB: Long, shReadB: Long, shWriteB: Long, spillB: Long)
  final case class Sql(id: Long, startMs: Long, var endMs: Long)
  final case class Batch(runId: String, startMs: Long, endMs: Long, d: Map[String, Long],
                         stateCommitMs: Long, stateRows: Long)

  /** A node of one query's span tree, clipped to the query window. */
  final case class Span(layer: String, name: String, start: Long, end: Long, parent: Int)
}
