package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/**
 * Engine-side view of a traced run. Every job is owned by the micro-batch
 * that launched it (Spark's `streaming.sql.batchId` job property) or by the
 * benchmark span that was open when it started (`graftbench.span`); stages
 * and tasks inherit their job's owner.
 */
final class SparkTrace extends SparkListener {
  final case class Job(owner: String, start: Long, callSite: String,
                       plan: String, var end: Long = -1L)
  final case class Task(stage: Int, launch: Long, finish: Long, runMs: Long,
                        cpuNs: Long, gcMs: Long, shuffleWrite: Long,
                        shuffleRead: Long, input: Long, output: Long,
                        spill: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageOwner = mutable.HashMap.empty[Int, String]
  private val stagesDone = mutable.ArrayBuffer.empty[(Int, Long)] // (stage, wall)
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val sqlPlans = mutable.HashMap.empty[Long, String]

  /** Streaming jobs all carry the query's start call site; the SQL plan
    * of the job's execution says what the foreachBatch body was doing
    * (which write, which aggregate). Wrapper nodes are skipped. */
  private def planSummary(p: org.apache.spark.sql.execution.SparkPlanInfo): String = {
    def walk(n: org.apache.spark.sql.execution.SparkPlanInfo): Seq[String] =
      n.nodeName +: n.children.flatMap(walk)
    walk(p).filterNot(n => n == "AdaptiveSparkPlan" || n == "InputAdapter" ||
      n.startsWith("WholeStageCodegen")).distinct.take(5).mkString(" < ")
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { sqlPlans(s.executionId) = planSummary(s.sparkPlanInfo) }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val owner = prop("streaming.sql.batchId").map("e" + _)
      .orElse(prop("graftbench.span").map("s" + _)).getOrElse("other")
    val site = if (e.stageInfos.isEmpty) "?" else e.stageInfos.maxBy(_.stageId).name
    val plan = prop("spark.sql.execution.id").flatMap(id => sqlPlans.get(id.toLong)).getOrElse("")
    jobs(e.jobId) = Job(owner, e.time, site, plan)
    e.stageIds.foreach(s => stageOwner(s) = owner)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val wall = (for (a <- i.submissionTime; b <- i.completionTime) yield b - a)
        .getOrElse(0L)
      stagesDone += ((i.stageId, wall))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, e.taskInfo.launchTime,
      e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
      m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.inputMetrics.bytesRead,
      m.outputMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  /** Per-owner engine figures over the window [lo, hi) (epoch wall). */
  def owned(owner: String, lo: Long, hi: Long, cores: Int): Map[String, Double] =
    synchronized {
      val js = jobs.values.filter(_.owner == owner).toSeq
      val stages = stagesDone.filter { case (s, _) => stageOwner.get(s).contains(owner) }
      val ts = tasks.filter(t => stageOwner.get(t.stage).contains(owner)).toSeq
      val wall = math.max(1L, hi - lo)
      val taskMs = ts.map(_.runMs).sum.toDouble
      val skew = if (stages.isEmpty) 1.0 else {
        val longest = stages.maxBy(_._2)._1
        val d = ts.filter(_.stage == longest).map(t => (t.finish - t.launch).toDouble)
        if (d.isEmpty) 1.0 else d.max / math.max(1.0, Stats.median(d))
      }
      val mb = 1024.0 * 1024.0
      Map(
        "jobs" -> js.size.toDouble,
        "stages" -> stages.size.toDouble,
        "tasks" -> ts.size.toDouble,
        "idle_ms" -> Stats.idleLength(ts.map(t => (t.launch, t.finish)), lo, hi).toDouble,
        "task_ms" -> taskMs,
        "cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
        "gc_ms" -> ts.map(_.gcMs).sum.toDouble,
        "busy_ratio" -> taskMs / (wall.toDouble * cores),
        "shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / mb,
        "shuffle_read_mb" -> ts.map(_.shuffleRead).sum / mb,
        "input_mb" -> ts.map(_.input).sum / mb,
        "output_mb" -> ts.map(_.output).sum / mb,
        "spill_mb" -> ts.map(_.spill).sum / mb,
        "task_skew" -> skew)
    }

  /** Jobs of one owner, in start order. */
  def jobsOf(owner: String): Seq[Job] = synchronized {
    jobs.values.filter(_.owner == owner).toSeq
  }
}

/** Progress of every micro-batch, as the streaming listener reports it. */
final class StreamTrace extends StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryProgress
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { progress += e.progress }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** The query's progress events, once `expected` have arrived: the
    * listener bus delivers them after the query thread has moved on. */
  def of(query: java.util.UUID, expected: Int): Seq[StreamingQueryProgress] = {
    def got = synchronized(progress.filter(_.id == query).toSeq)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (got.size < expected && System.nanoTime() < deadline) Thread.sleep(10)
    got
  }
}

/**
 * Benchmark-side spans: name, start, end and parent, kept in memory and
 * written as JSON lines when the run ends. Jobs started while a span is
 * open are tagged with it, so the listener can attach their call sites as
 * child spans.
 */
final class Spans(sc: () => SparkContext) {
  final case class Span(id: Int, name: String, parent: Int, start: Long,
                        end: Long, attrs: Map[String, Any])
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0

  def apply[T](name: String, attrs: Map[String, Any] = Map.empty)(f: => T): T = {
    nextId += 1
    val id = nextId
    val parent = open.headOption.getOrElse(0)
    val prev = sc().getLocalProperty("graftbench.span")
    open = id :: open
    sc().setLocalProperty("graftbench.span", id.toString)
    val t0 = System.currentTimeMillis()
    try f finally {
      val t1 = System.currentTimeMillis()
      open = open.tail
      sc().setLocalProperty("graftbench.span", prev)
      done += Span(id, name, parent, t0, t1, attrs)
    }
  }

  /** Record an already-measured interval (e.g. an epoch from progress). */
  def record(name: String, start: Long, end: Long, attrs: Map[String, Any]): Unit = {
    nextId += 1
    done += Span(nextId, name, 0, start, end, attrs)
  }

  /** Durations in ms of every span with this name. */
  def durations(name: String): Seq[Double] =
    done.filter(_.name == name).map(s => (s.end - s.start).toDouble).toSeq

  /** All spans plus the listener's job spans as children, with self time
    * (span minus the union of its children). */
  def write(path: String, trace: SparkTrace): Unit = {
    val rows = mutable.ArrayBuffer.empty[Map[String, Any]]
    var jobId = nextId
    done.foreach { s =>
      val owner = s.attrs.get("owner").map(_.toString).getOrElse("s" + s.id)
      val jobKids = trace.jobsOf(owner).map { j =>
        jobId += 1
        rows += Map("id" -> jobId, "name" -> "job", "parent" -> s.id,
          "start" -> j.start, "end" -> j.end, "call_site" -> j.callSite,
          "sql_plan" -> j.plan)
        (j.start, j.end)
      }
      val spanKids = done.filter(_.parent == s.id).map(c => (c.start, c.end))
      val self = (s.end - s.start) - Stats.unionLength(jobKids ++ spanKids, s.start, s.end)
      rows += Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start" -> s.start, "end" -> s.end, "self_ms" -> self) ++ s.attrs
    }
    val w = new java.io.PrintWriter(path, "UTF-8")
    try rows.sortBy(r => r("start").asInstanceOf[Long]).foreach(r => w.println(Json(r)))
    finally w.close()
  }
}
