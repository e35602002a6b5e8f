package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch seconds with nanosecond resolution, on the same
  * time base as Spark's millisecond event times. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs / 1e3 + (System.nanoTime() - baseNs) / 1e9
}

/** In-memory spans (name, start, end, parent, op), written out at the end
  * of the run. Spans are only recorded for ops the run traces. */
object Spans {
  final case class Span(id: Long, name: String, start: Double, end: Double,
                        parent: Long, op: Long)
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  // per thread: (op id, traced?, open span stack)
  private val ctx = new ThreadLocal[(Long, Boolean, List[Long])] {
    override def initialValue() = (-1L, false, Nil)
  }

  def beginOp(op: Long, traced: Boolean): Unit = ctx.set((op, traced, Nil))
  def endOp(): Unit = ctx.set((-1L, false, Nil))

  def span[T](name: String)(body: => T): T = {
    val (op, traced, stack) = ctx.get()
    if (!traced) return body
    val id = ids.incrementAndGet()
    ctx.set((op, traced, id :: stack))
    val t0 = Clock.now()
    try body
    finally {
      done.add(Span(id, name, t0, Clock.now(), stack.headOption.getOrElse(0L), op))
      ctx.set((op, traced, stack))
    }
  }

  def toJson(arr: ArrayNode): Unit = done.asScala.toSeq.sortBy(_.id).foreach { s =>
    arr.addObject().put("id", s.id).put("name", s.name).put("start", s.start)
      .put("end", s.end).put("parent", s.parent).put("op", s.op)
  }
}

/** The benchmark's own SparkListener + QueryExecutionListener: job, stage
  * and task metrics plus QueryPlanningTracker phases per SQL execution.
  * Nothing is recorded unless `on` (traced runs only). */
final class Recorder extends SparkListener with QueryExecutionListener {
  @volatile var on = false

  private final class StageAcc(val stage: Int, val attempt: Int) {
    var submitted = 0.0; var completed = 0.0; var tasks = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var peakMem = 0L
    var inputBytes = 0L; var shWrite = 0L; var shRead = 0L
    var fetchWaitMs = 0L; var spill = 0L
  }
  private final class JobAcc(val id: Int, val start: Double, val op: Long,
                             val exec: Long, val group: String, val stageIds: Seq[Int]) {
    var end = 0.0
  }
  private val stages = new ConcurrentHashMap[(Int, Int), StageAcc]()
  private val jobs = new ConcurrentHashMap[Int, JobAcc]()
  // by SQL execution id: (start, job group); end
  private val execStart = new ConcurrentHashMap[Long, (Double, String)]()
  private val execEnd = new ConcurrentHashMap[Long, java.lang.Double]()
  // QueryExecution.id -> SQL execution id
  private val execOfQe = new ConcurrentHashMap[Long, java.lang.Long]()
  private val execs = new ConcurrentLinkedQueue[ObjectNode]()
  private val mapper = Harness.mapper

  private def stage(id: Int, attempt: Int) =
    stages.computeIfAbsent((id, attempt), k => new StageAcc(k._1, k._2))

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs.put(e.jobId, new JobAcc(e.jobId, e.time / 1e3,
      prop(Harness.OpProperty).map(_.toLong).getOrElse(-1L),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
      prop("spark.jobGroup.id").getOrElse(""), e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time / 1e3)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (on) {
    val i = e.stageInfo
    stage(i.stageId, i.attemptNumber()).submitted =
      i.submissionTime.getOrElse(System.currentTimeMillis()) / 1e3
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.completed = i.completionTime.getOrElse(System.currentTimeMillis()) / 1e3
    s.tasks = i.numTasks
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskMetrics != null) {
    val m = e.taskMetrics
    val s = stage(e.stageId, e.stageAttemptId)
    s.synchronized {
      s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime; s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
      s.inputBytes += m.inputMetrics.bytesRead
      s.shWrite += m.shuffleWriteMetrics.bytesWritten
      s.shRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = if (on) e match {
    case s: SparkListenerSQLExecutionStart =>
      execStart.put(s.executionId, (s.time / 1e3, s.jobGroupId.getOrElse("")))
    case x: SparkListenerSQLExecutionEnd =>
      execEnd.put(x.executionId, x.time / 1e3)
      org.apache.spark.sql.perfbench.ExecShim.queryExecution(x)
        .foreach(qe => execOfQe.put(qe.id, x.executionId))
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (on) record(qe, durationNs, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    if (on) record(qe, 0L, ok = false)

  private def record(qe: QueryExecution, durationNs: Long, ok: Boolean): Unit = {
    val n = mapper.createObjectNode()
    n.put("id", qe.id).put("ok", ok).put("duration_s", durationNs / 1e9)
    val ph = qe.tracker.phases
    Seq("analysis" -> "analysis_s", "optimization" -> "optimization_s",
        "planning" -> "physical_s").foreach { case (k, out) =>
      ph.get(k).foreach { p =>
        n.put(out, p.durationMs / 1e3)
        n.put(out.stripSuffix("_s") + "_start", p.startTimeMs / 1e3)
      }
    }
    sqlTag(qe).foreach(t => n.put("tag_op", t))
    if (ok) {
      val (cand, verified) = pairMetrics(qe.executedPlan)
      if (cand >= 0) n.put("candidate_pairs", cand).put("verified_pairs", verified)
    }
    execs.add(n)
  }

  /** The op id a front-door client embedded in its SQL text. */
  private def sqlTag(qe: QueryExecution): Option[Long] = {
    val texts = qe.logical.collect { case p if p.origin.sqlText.isDefined => p.origin.sqlText.get } ++
      qe.analyzed.collect { case p if p.origin.sqlText.isDefined => p.origin.sqlText.get }
    texts.iterator.flatMap(t => Harness.TagRe.findFirstMatchIn(t).map(_.group(1).toLong))
      .nextOption()
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case o => o.children ++ o.subqueries
    }
    p +: kids.flatMap(nodes)
  }

  /** Minhash candidate pairs (the pair-dedup aggregate grouped on
    * (id_a, id_b)) and verified pairs (the Jaccard predicate), read from the
    * executed plan's SQL metrics; (-1, -1) when the plan has neither. */
  private def pairMetrics(plan: SparkPlan): (Long, Long) = {
    def rows(p: SparkPlan) = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    val all = nodes(plan)
    val cand = all.collect {
      case h: HashAggregateExec
          if h.output.map(_.name).toSet == Set("id_a", "id_b") => rows(h)
    }.filter(_ > 0)
    // the Jaccard predicate sits in a filter, or in a join condition once the
    // optimizer pushes it into the join of the two token-array attachments
    def jaccard(e: Option[Expression]) =
      e.exists(_.toString.toLowerCase.replace("_", "").contains("jaccardsim"))
    val ver = all.collect {
      case f: FilterExec if jaccard(Some(f.condition)) => rows(f)
      case j: BaseJoinExec if jaccard(j.condition) => rows(j)
    }
    if (cand.isEmpty) (-1L, -1L) else (cand.min, ver.foldLeft(0L)(math.max))
  }

  def toJson(out: ObjectNode): Unit = {
    val js = out.putArray("jobs")
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      val n = js.addObject().put("id", j.id).put("start", j.start).put("end", j.end)
        .put("op", j.op).put("exec", j.exec).put("group", j.group)
      val a = n.putArray("stage_ids"); j.stageIds.foreach(a.add(_))
    }
    val ss = out.putArray("stages")
    stages.values.asScala.toSeq.sortBy(s => (s.stage, s.attempt)).foreach { s =>
      ss.addObject().put("id", s.stage).put("attempt", s.attempt)
        .put("start", s.submitted).put("end", s.completed).put("tasks", s.tasks)
        .put("run_s", s.runMs / 1e3).put("cpu_s", s.cpuNs / 1e9).put("gc_s", s.gcMs / 1e3)
        .put("peak_mem_bytes", s.peakMem).put("input_bytes", s.inputBytes)
        .put("shuffle_write_bytes", s.shWrite).put("shuffle_read_bytes", s.shRead)
        .put("fetch_wait_s", s.fetchWaitMs / 1e3).put("spill_bytes", s.spill)
    }
    val es = out.putArray("execs")
    execs.asScala.foreach { n =>
      Option(execOfQe.get(n.get("id").asLong)).foreach { sid =>
        n.put("exec", sid.longValue)
        Option(execStart.get(sid.longValue)).foreach { case (t, g) => n.put("start", t).put("group", g) }
        Option(execEnd.get(sid.longValue)).foreach(t => n.put("end", t.doubleValue))
      }
      es.add(n)
    }
  }
}
