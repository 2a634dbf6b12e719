package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.perfbenchshim.ListenerBusProbe
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: run, phase, or one row / builder call. Times are epoch
  * milliseconds (fractional), the clock Spark stamps its events with. */
final class Span(val id: Int, val parent: Int, val kind: String, val name: String,
                 val layer: String, val startMs: Double) {
  var endMs: Double = Double.NaN
  def durMs: Double = endMs - startMs
}

/** The traced run's instrumentation. Three listeners record what
  * Spark did; spans record what the benchmark called. Before each
  * call a job group names the call's span, so its jobs (and the jobs
  * of driver threads it spawns) link to it; a stream's jobs run under
  * the stream's run id, which the start event links to the span that
  * started the stream. Everything stays in memory until [[report]].
  * Nothing here runs a Spark action. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  @volatile private var currentCall: Span = _

  private final case class JobRec(id: Int, group: String, startMs: Long, stageIds: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }
  private final case class StageRec(id: Int, tasks: Int, startMs: Long, endMs: Long,
                                    shuffleWrite: Long, shuffleRead: Long, spill: Long,
                                    input: Long, output: Long)
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val tasksFailed = new AtomicLong()
  private val runToSpan = new ConcurrentHashMap[String, Span]()
  /** (span, trigger duration ms, addBatch ms) per executed micro-batch. */
  private val batches = new ConcurrentLinkedQueue[(Span, Long, Long)]()
  /** (planning start ms, analysis+optimization+planning ms) per query. */
  private val plans = new ConcurrentLinkedQueue[(Long, Long)]()

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobs.put(e.jobId, JobRec(e.jobId, group, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = Option(i.taskMetrics)
      stages.add(StageRec(i.stageId, i.numTasks,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
        m.map(_.diskBytesSpilled).getOrElse(0L),
        m.map(_.inputMetrics.bytesRead).getOrElse(0L),
        m.map(_.outputMetrics.bytesWritten).getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.reason != Success) tasksFailed.incrementAndGet()
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = note(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = note(qe)
    private def note(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val parts = Seq("analysis", "optimization", "planning").flatMap(ph.get)
      if (parts.nonEmpty) plans.add((parts.map(_.startTimeMs).min, parts.map(_.durationMs).sum))
    }
  })

  spark.streams.addListener(new StreamingQueryListener {
    // delivered synchronously on the thread that starts the stream
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Option(currentCall).foreach(runToSpan.put(e.runId.toString, _))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      if (d.containsKey("addBatch"))
        Option(runToSpan.get(e.progress.runId.toString)).foreach { s =>
          batches.add((s, d.getOrDefault("triggerExecution", 0L).longValue,
            d.get("addBatch").longValue))
        }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  /** Run `body` inside a new span; a row or builder call also labels
    * its jobs with the span's job group. */
  def span[T](kind: String, name: String, layer: String)(body: => T): T = {
    val s = new Span(spans.size, open.headOption.map(_.id).getOrElse(-1), kind, name, layer, nowMs)
    spans += s
    open = s :: open
    // every span below a phase labels its jobs
    val isCall = kind != "run" && kind != "phase"
    if (isCall) { sc.setJobGroup(s"perfbench-${s.id}", s"$kind $name"); currentCall = s }
    try body finally {
      s.endMs = nowMs
      open = open.tail
      if (isCall) { sc.clearJobGroup(); currentCall = null }
    }
  }

  // ---------------------------------------------------------------- report

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) { if (!curS.isNaN) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Drain the listener bus, link every job to its span, and return
    * (per-layer metrics for the calls `counted` selects, the full span
    * tree as JSON-ready maps). `serve` selects the measured calls whose
    * Spark output counts as written during serve. */
  def report(counted: Span => Boolean, serve: Span => Boolean,
             layers: Seq[String]): (Map[String, Double], Seq[Map[String, Any]]) = {
    ListenerBusProbe.drain(sc)
    val byId = spans.map(s => s.id -> s).toMap
    val calls = spans.toSeq.filter(s => s.kind == "row" || s.kind == "builder")
    // job -> span: its job group when that names a span whose window
    // holds the job's start, else the stream run id it ran under
    val allJobs = jobs.values.asScala.toSeq.sortBy(_.id)
    def within(s: Span, j: JobRec) = j.startMs >= s.startMs - 1 && j.startMs <= s.endMs + 1
    val jobSpan: Map[Int, Span] = allJobs.flatMap { j =>
      val g = Option(j.group)
      val viaGroup = g.filter(_.startsWith("perfbench-"))
        .flatMap(x => byId.get(x.stripPrefix("perfbench-").toInt)).filter(within(_, j))
      viaGroup.orElse(g.flatMap(x => Option(runToSpan.get(x))).filter(within(_, j))).map(j.id -> _)
    }.toMap
    // a stage shared by several jobs belongs to the first that ran it
    val stageJob: Map[Int, Int] = allJobs.reverse.flatMap(j => j.stageIds.map(_ -> j.id)).toMap
    val stageRecs = stages.asScala.toSeq
    val stagesOfJob = stageRecs.groupBy(st => stageJob.getOrElse(st.id, -1))
    val jobsOfSpan = allJobs.filter(j => jobSpan.contains(j.id)).groupBy(j => jobSpan(j.id).id)
    val plansOf = plans.asScala.toSeq.flatMap { case (t, ms) =>
      calls.find(s => t >= s.startMs - 1 && t <= s.endMs + 1).map(_.id -> ms)
    }.groupMap(_._1)(_._2)

    val m = mutable.LinkedHashMap.empty[String, Double]
    val countedCalls = calls.filter(counted)
    layers.foreach { l =>
      val cs = countedCalls.filter(_.layer == l)
      val js = cs.flatMap(s => jobsOfSpan.getOrElse(s.id, Nil))
      val sts = js.flatMap(j => stagesOfJob.getOrElse(j.id, Nil))
      val wall = cs.map(_.durMs).sum / 1000
      val busy = cs.map { s =>
        union(jobsOfSpan.getOrElse(s.id, Nil).map(j =>
          (math.max(j.startMs.toDouble, s.startMs),
            math.min((if (j.endMs < 0) s.endMs else j.endMs.toDouble), s.endMs))))
      }.sum / 1000
      m(s"$l.calls") = cs.size
      m(s"$l.wall_s") = wall
      m(s"$l.busy_s") = busy
      m(s"$l.driver_gap_s") = wall - busy
      m(s"$l.plan_s") = cs.map(s => plansOf.getOrElse(s.id, Nil).sum).sum / 1000.0
      m(s"$l.jobs") = js.size
      m(s"$l.stages") = sts.size
      m(s"$l.tasks") = sts.map(_.tasks.toLong).sum
      m(s"$l.shuffle_mb") = sts.map(_.shuffleWrite).sum / 1048576.0
      m(s"$l.output_mb") = sts.map(_.output).sum / 1048576.0
    }
    val countedJobs = countedCalls.flatMap(s => jobsOfSpan.getOrElse(s.id, Nil))
    val countedStages = countedJobs.flatMap(j => stagesOfJob.getOrElse(j.id, Nil))
    m("artifacts.written_mb_during_serve") = calls.filter(serve)
      .flatMap(s => jobsOfSpan.getOrElse(s.id, Nil)).flatMap(j => stagesOfJob.getOrElse(j.id, Nil))
      .map(_.output).sum / 1048576.0
    m("spark.tasks_failed") = tasksFailed.get
    m("spark.spill_mb") = stageRecs.map(_.spill).sum / 1048576.0
    m("spark.scan_mb") = countedStages.map(_.input).sum / 1048576.0
    m("spark.jobs_unattributed") = allJobs.count(j => !jobSpan.contains(j.id))
    m("spark.events_dropped") = ListenerBusProbe.droppedEvents(sc)
    val bs = batches.asScala.toSeq.filter(b => counted(b._1))
    val nb = bs.size
    m("streaming.queries") = runToSpan.asScala.count { case (_, s) => counted(s) }
    m("streaming.batches") = nb
    m("streaming.batch_p50_s") = Stats.percentile(bs.map(_._2 / 1000.0), 0.5)
    m("streaming.jobs_per_batch") = if (nb == 0) 0.0 else
      countedJobs.count(j => Option(j.group).exists(runToSpan.containsKey)).toDouble / nb
    m("streaming.add_batch_s") = bs.map(_._3).sum / 1000.0

    val tree = spans.toSeq.map { s =>
      val js = jobsOfSpan.getOrElse(s.id, Nil).sortBy(_.id)
      val kids = spans.toSeq.filter(_.parent == s.id)
      val covered =
        if (kids.nonEmpty) union(kids.map(k => (k.startMs, k.endMs)))
        else union(js.map(j => (j.startMs.toDouble, if (j.endMs < 0) s.endMs else j.endMs.toDouble)))
      Map[String, Any](
        "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "layer" -> s.layer, "start_ms" -> s.startMs, "dur_ms" -> s.durMs,
        "self_ms" -> (s.durMs - covered), "plan_ms" -> plansOf.getOrElse(s.id, Nil).sum,
        "jobs" -> js.map { j =>
          val sts = stagesOfJob.getOrElse(j.id, Nil).sortBy(_.id)
          Map[String, Any]("job" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
            "self_ms" -> ((j.endMs - j.startMs).toDouble - union(sts.map(x => (x.startMs.toDouble, x.endMs.toDouble)))),
            "stages" -> sts.map(x => Map[String, Any]("stage" -> x.id, "tasks" -> x.tasks,
              "dur_ms" -> (x.endMs - x.startMs), "shuffle_write_b" -> x.shuffleWrite,
              "shuffle_read_b" -> x.shuffleRead, "input_b" -> x.input, "output_b" -> x.output)))
        })
    }
    (m.toMap, tree)
  }
}
