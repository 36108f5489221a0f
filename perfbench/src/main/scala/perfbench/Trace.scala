package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.BusSync
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. Times are `System.nanoTime`;
  * `parent` 0 is the root, `req` groups the spans of one request. */
final case class Span(id: Long, parent: Long, req: Long, name: String, layer: String,
                      start: Long, end: Long)

/** In-memory span recorder for the benchmark's client thread. When off,
  * `span` only runs its body. The current span id travels to Spark as a
  * job-local property, so the listener can hang each job under the call
  * that fired it (streaming jobs inherit it from the thread that started
  * the query). */
final class Tracer(sc: SparkContext, val on: Boolean) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private var stack: List[(Long, Long)] = Nil
  private val nanoMinusMs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** A listener event time (epoch ms) on the span clock. */
  def fromMs(ms: Long): Long = ms * 1000000L + nanoMinusMs
  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = synchronized { buf += s }
  def spans: Seq[Span] = synchronized(buf.toList)

  def span[T](name: String, layer: String, req: Long = -1L)(body: => T): T =
    if (!on) body
    else {
      val id = newId()
      val (parent, parentReq) = stack.headOption.getOrElse((0L, 0L))
      val r = if (req >= 0) req else parentReq
      stack = (id, r) :: stack
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      sc.setLocalProperty(Tracer.ReqProp, r.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp, stack.headOption.map(_._1.toString).orNull)
        sc.setLocalProperty(Tracer.ReqProp, stack.headOption.map(_._2.toString).orNull)
        add(Span(id, parent, r, name, layer, t0, t1))
      }
    }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val ReqProp = "perfbench.req"
}

/** Per-stage task aggregate. */
final class StageAgg(val stageId: Int, val jobId: Int, val fit: Boolean) {
  val taskMs = mutable.ArrayBuffer.empty[Long]
  var runMs, gcMs, shuffleWrite, shuffleRead, spill, peakMem, outBytes, outRecs = 0L
  var submitted, completed = 0L
}

/** Counts at the Spark boundaries of the traced ops: jobs and stages
  * (becoming spans under the call that fired them), task metrics, SQL
  * plan sizes, query phases, codegen time and streaming micro-batch
  * phases. Attached around each traced op only, so the untraced ops of
  * the same window run without it. */
final class LayerListener(spark: SparkSession, tr: Tracer) extends SparkListener
    with QueryExecutionListener {
  private final case class JobRec(id: Int, span: Long, req: Long, start: Long, var end: Long = 0L)
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
  private val stageJob = mutable.HashMap.empty[Int, (Int, Boolean)]
  /** SQL execution id → (plan nodes, exchanges); an adaptive update
    * replaces the initial plan's counts with the re-planned ones. */
  private val execs = mutable.HashMap.empty[Long, (Int, Int)]
  val phaseMs: mutable.Map[String, Double] = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  val batchMs: mutable.Map[String, Double] = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  var microBatches = 0L
  /** Codegen compile time of the traced ops, in ns. The compiler's
    * counter is global, so it is read at attach and detach. */
  private var codegenNs = 0L
  private var codegenAt = 0L

  private def planCounts(p: SparkPlanInfo): (Int, Int) = {
    val kids = p.children.map(planCounts)
    (1 + kids.map(_._1).sum, (if (p.nodeName.contains("Exchange")) 1 else 0) + kids.map(_._2).sum)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execs(s.executionId) = planCounts(s.sparkPlanInfo) }
    case u: SparkListenerSQLAdaptiveExecutionUpdate => synchronized { execs(u.executionId) = planCounts(u.sparkPlanInfo) }
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
    jobs(j.jobId) = JobRec(j.jobId, prop(Tracer.SpanProp).map(_.toLong).getOrElse(0L),
      prop(Tracer.ReqProp).map(_.toLong).getOrElse(0L), j.time)
    j.stageInfos.foreach { si =>
      val fit = si.rddInfos.exists(r => r.scope.exists(_.name.contains("MapGroups")))
      stageJob(si.stageId) = (j.jobId, fit)
    }
  }
  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(j.jobId).foreach(_.end = j.time)
  }
  private def agg(stageId: Int): StageAgg = stages.getOrElseUpdate(stageId, {
    val (job, fit) = stageJob.getOrElse(stageId, (-1, false))
    new StageAgg(stageId, job, fit)
  })
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    val a = agg(s.stageInfo.stageId)
    a.submitted = s.stageInfo.submissionTime.getOrElse(0L)
    a.completed = s.stageInfo.completionTime.getOrElse(0L)
  }
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(t.stageId)
    a.taskMs += t.taskInfo.duration
    Option(t.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      a.outBytes += m.outputMetrics.bytesWritten
      a.outRecs += m.outputMetrics.recordsWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    qe.tracker.phases.foreach { case (k, v) => phaseMs(k) += v.durationMs.toDouble }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      LayerListener.this.synchronized {
        microBatches += 1
        e.progress.durationMs.asScala.foreach { case (k, v) => batchMs(k) += v.toDouble }
      }
  }

  /** Start counting: the bus is drained first, so no event of an
    * earlier, untraced op reaches the listener. */
  def attach(): Unit = {
    BusSync.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streaming)
    codegenAt = CodeGenerator.compileTime
  }

  /** Stop counting once every event of the op has been delivered. */
  def detach(): Unit = {
    codegenNs += CodeGenerator.compileTime - codegenAt
    BusSync.drain(spark.sparkContext)
    spark.streams.removeListener(streaming)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  /** Turn the jobs and stages seen while attached into spans and return
    * the traced ops' Spark counters. */
  def finish(): Map[String, Double] = {
    synchronized {
      val jobSpan = jobs.values.map { j =>
        val id = tr.newId()
        tr.add(Span(id, j.span, j.req, s"job ${j.id}", "query", tr.fromMs(j.start),
          tr.fromMs(math.max(j.end, j.start))))
        j.id -> (id, j.req)
      }.toMap
      val ran = stages.values.filter(_.taskMs.nonEmpty).toSeq
      // a stage that fits models is ml's work, one that writes files is
      // store's, anything else is the query engine's
      ran.foreach { s =>
        jobSpan.get(s.jobId).foreach { case (jid, req) =>
          val layer = if (s.fit) "ml" else if (s.outRecs > 0) "store" else "query"
          if (s.submitted > 0 && s.completed >= s.submitted)
            tr.add(Span(tr.newId(), jid, req, s"stage ${s.stageId}", layer,
              tr.fromMs(s.submitted), tr.fromMs(s.completed)))
        }
      }
      val skews = ran.filter(_.taskMs.size >= 2).map { s =>
        val sorted = s.taskMs.sorted
        sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2)).toDouble
      }.sorted
      val execSeen = execs.values.toSeq
      Map(
        "jobs" -> jobs.size.toDouble,
        "stages" -> ran.size.toDouble,
        "tasks" -> ran.map(_.taskMs.size).sum.toDouble,
        "one_task_stages" -> ran.count(_.taskMs.size == 1).toDouble,
        "shuffle_write_bytes" -> ran.map(_.shuffleWrite).sum.toDouble,
        "shuffle_read_bytes" -> ran.map(_.shuffleRead).sum.toDouble,
        "spill_bytes" -> ran.map(_.spill).sum.toDouble,
        "gc_ms" -> ran.map(_.gcMs).sum.toDouble,
        "peak_exec_mem_bytes" -> (0L +: ran.map(_.peakMem)).max.toDouble,
        "task_skew" -> (if (skews.isEmpty) 1.0 else skews(skews.size / 2)),
        "fit_task_ms" -> ran.filter(_.fit).map(_.runMs).sum.toDouble,
        "bytes_written" -> ran.map(_.outBytes).sum.toDouble,
        "rows_written" -> ran.map(_.outRecs).sum.toDouble,
        "sql_execs" -> execSeen.size.toDouble,
        "plan_nodes" -> execSeen.map(_._1).sum.toDouble,
        "exchanges" -> execSeen.map(_._2).sum.toDouble,
        "codegen_ms" -> codegenNs / 1e6,
        "micro_batches" -> microBatches.toDouble
      ) ++ phaseMs.map { case (k, v) => s"phase.$k" -> v } ++ batchMs.map { case (k, v) => s"batch.$k" -> v }
    }
  }

  /** Jobs fired while a span was open, keyed by span id. */
  def jobsBySpan: Map[Long, Int] = synchronized(jobs.values.groupBy(_.span).map { case (k, v) => k -> v.size })
}
