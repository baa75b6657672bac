package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Layer spans come from the benchmark's calls into
  * the program; job spans come from the listener and are labelled with the
  * job's call site (`count at Pipeline.scala:72`), which names the program
  * file that triggered the work. */
final case class Span(id: Int, name: String, parent: Int, unit: Int,
    startMs: Double, endMs: Double)

/** What Spark did inside one span, summed from listener events. */
final case class Counts(jobs: Int, stages: Int, tasks: Int,
    execRunS: Double, execCpuS: Double, gcS: Double, schedWaitS: Double,
    taskSkew: Double, shuffleWriteMb: Double, shuffleReadMb: Double,
    spillMb: Double, planMs: Double, storagePeakMb: Double, stageTasks: Seq[Int],
    plans: Seq[QueryExecution])

/** Records spans and Spark counts. Registered only while tracing, so an
  * untraced unit pays nothing. The listener bus is drained at the end of
  * every span, so each span's events are complete when they are summed. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 1

  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNs) / 1e6

  import Tracer.{Job, Stage, Task}

  // written by the listener-bus thread, read after Bus.drain
  private val jobs = ArrayBuffer.empty[Job]
  private val jobStart = scala.collection.mutable.Map.empty[Int, (Long, String)]
  // SQL execution id → the call site of the action that started it
  private val executions = scala.collection.mutable.Map.empty[String, String]
  private val stages = scala.collection.mutable.Map.empty[Int, Stage]
  private val tasks = ArrayBuffer.empty[Task]
  private val plans = ArrayBuffer.empty[QueryExecution]

  private val listener = new SparkListener {
    // jobs that adaptive execution submits from its own threads carry the
    // stage name of that thread; the SQL execution's call site names the
    // program's action instead
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(executions.get)
      val label = exec.getOrElse(
        if (e.stageInfos.isEmpty) "?" else e.stageInfos.maxBy(_.stageId).name)
      jobStart(e.jobId) = (e.time, label)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        executions(s.executionId.toString) = s.description
      }
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (t, l) => jobs += Job(t, e.time, l) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      stages(i.stageId) = Stage(i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L), i.numTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += Task(e.stageId, e.taskInfo.launchTime,
        e.taskInfo.duration, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      Tracer.this.synchronized { plans += qe }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  // peak storage memory since the current span began, polled while tracing
  @volatile private var storagePeak = 0L
  @volatile private var sampler: Thread = null

  private var on = false
  def start(): Unit = if (!on) {
    synchronized { jobs.clear(); stages.clear(); tasks.clear(); plans.clear() }
    sc.addSparkListener(listener); spark.listenerManager.register(qeListener)
    val t = new Thread(() => {
      try while (true) {
        storagePeak = math.max(storagePeak, org.apache.spark.perfbench.Bus.storageUsed())
        Thread.sleep(5)
      } catch { case _: InterruptedException => }
    }, "perfbench-storage-sampler")
    t.setDaemon(true); t.start(); sampler = t
    on = true
  }
  def stop(): Unit = if (on) {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener); spark.listenerManager.unregister(qeListener)
    sampler.interrupt(); sampler.join(); sampler = null
    on = false
  }

  /** Runs `body` as a span and returns its result, the span and its
    * counts. Job spans of the interval become its children. */
  def span[T](name: String, parent: Int, unit: Int)(body: => T): (T, Span, Counts) = {
    val id = nextId; nextId += 1
    // events from before the span are not its own
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized { jobs.clear(); stages.clear(); tasks.clear(); plans.clear() }
    storagePeak = org.apache.spark.perfbench.Bus.storageUsed()
    val t0 = nowMs
    val r = body
    val t1 = nowMs
    org.apache.spark.perfbench.Bus.drain(sc)
    val s = Span(id, name, parent, unit, t0 - baseEpochMs, t1 - baseEpochMs)
    spans += s
    val c = harvest(id, unit, storagePeak)
    (r, s, c)
  }

  private def harvest(parent: Int, unit: Int, storagePeakBytes: Long): Counts = synchronized {
    jobs.foreach { j =>
      spans += Span(nextId, "job " + j.label, parent, unit,
        j.start - baseEpochMs, j.end - baseEpochMs)
      nextId += 1
    }
    val byStage = tasks.groupBy(_.stage)
    val waits = stages.toSeq.map { case (id, st) =>
      byStage.get(id).map(ts => math.max(0L, ts.map(_.launch).min - st.submitted))
        .getOrElse(0L)
    }
    val skew = if (stages.isEmpty) 1.0 else {
      val (longest, _) = stages.maxBy { case (_, st) => st.completed - st.submitted }
      val ds = byStage.getOrElse(longest, ArrayBuffer.empty).map(_.duration).sorted
      if (ds.isEmpty) 1.0 else ds.last.toDouble / math.max(1L, ds(ds.length / 2))
    }
    val mb = 1024.0 * 1024.0
    val c = Counts(jobs.length, stages.size, tasks.length,
      tasks.map(_.runMs).sum / 1e3, tasks.map(_.cpuNs).sum / 1e9,
      tasks.map(_.gcMs).sum / 1e3, waits.sum / 1e3, skew,
      tasks.map(_.shufW).sum / mb, tasks.map(_.shufR).sum / mb,
      tasks.map(_.spill).sum / mb,
      plans.map(planMs).sum, storagePeakBytes / mb,
      stages.toSeq.sortBy(_._1).map(_._2.numTasks),
      plans.toVector)
    jobs.clear(); stages.clear(); tasks.clear(); plans.clear()
    c
  }

  private def planMs(qe: QueryExecution): Double =
    Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs).sum.toDouble

  /** Writes the spans as one JSON document. */
  def write(path: java.io.File, meta: Map[String, String]): Unit = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.println("{" + meta.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString(", ") +
        ", \"spans\": [")
      w.println(spans.map(s =>
        f"""  {"id": ${s.id}, "name": ${q(s.name)}, "parent": ${s.parent}, "unit": ${s.unit}, "start_ms": ${s.startMs}%.3f, "end_ms": ${s.endMs}%.3f}""")
        .mkString(",\n"))
      w.println("]}")
    } finally w.close()
  }
}

object Tracer {
  private final case class Job(start: Long, end: Long, label: String)
  private final case class Stage(submitted: Long, completed: Long, numTasks: Int)
  private final case class Task(stage: Int, launch: Long, duration: Long,
      runMs: Long, cpuNs: Long, gcMs: Long, shufW: Long, shufR: Long,
      spill: Long)

  /** Every physical operator of an executed plan, through adaptive
    * wrappers and query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _ => (p.children ++ p.innerChildren.collect { case c: SparkPlan => c })
      .flatMap(nodes)
  })

  /** Sum of an operator metric over the nodes whose name matches. */
  def metric(qes: Seq[QueryExecution], node: String => Boolean, key: String): Long =
    qes.flatMap(qe => nodes(qe.executedPlan)).filter(n => node(n.nodeName))
      .flatMap(_.metrics.get(key)).map(_.value).sum
}
