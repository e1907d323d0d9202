package perfbench

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed query execution as the harness saw it: `t0` before the
  * `q.bench` call, `t1` after it (the DataFrame is defined), `t2` after
  * the noop write returned. Times are epoch milliseconds. */
final case class Exec(qid: Int, name: String, module: String, pass: Int,
    traced: Boolean, t0: Double, t1: Double, t2: Double, ok: Boolean)

/** Per-layer tracing from outside the engine: a SparkListener (jobs,
  * stages, task metrics), a QueryExecutionListener (Catalyst phase
  * times, output rows), a StreamingQueryListener (micro-batches) and a
  * log4j appender on Spark's CodeGenerator (one "Code generated in N ms"
  * line per compiled class). Events are kept in memory; spans and
  * metrics are derived once, after the last pass.
  *
  * Job and stage events are attributed through the `perfbench.qid` local
  * property the harness sets before each query. Events that carry no
  * property (Catalyst phases, codegen, stream progress) are attributed
  * by timestamp to the query whose interval contains them; the loop is
  * closed with one caller, so intervals never overlap. */
final class Tracer(spark: SparkSession, cpus: Int) {
  import Tracer._

  private val sc = spark.sparkContext
  private val lock = new Object
  private val stageQid = mutable.Map.empty[Int, Int]
  private val acc = mutable.Map.empty[Int, Acc]
  private val stages = mutable.ArrayBuffer.empty[StageSpan]
  private val phases = mutable.ArrayBuffer.empty[(String, Double, Double)]
  private val outRows = mutable.ArrayBuffer.empty[(Double, Long)]
  private val scanBytes = mutable.ArrayBuffer.empty[(Double, Long)]
  private val codegen = mutable.ArrayBuffer.empty[(Double, Double)]
  private val batches = mutable.ArrayBuffer.empty[(Double, Long, Long)]
  @volatile private var markerSeen = -1
  private var streamsStarted = 0
  private var streamsEnded = 0

  private def qidOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(QidKey))).map(_.toInt).getOrElse(NoQid)

  private def a(qid: Int): Acc = acc.getOrElseUpdate(qid, new Acc)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val qid = qidOf(e.properties)
      if (qid != MarkerQid) a(qid).jobs += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      lock.synchronized { stageQid(e.stageInfo.stageId) = qidOf(e.properties) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        val i = e.stageInfo
        val qid = stageQid.getOrElse(i.stageId, NoQid)
        if (qid != MarkerQid) {
          a(qid).stages += 1
          for (s <- i.submissionTime; c <- i.completionTime)
            stages += StageSpan(qid, i.stageId, i.attemptNumber(), i.name, s.toDouble, c.toDouble)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val qid = stageQid.getOrElse(e.stageId, NoQid)
      val m = e.taskMetrics
      if (qid != MarkerQid && m != null) {
        val x = a(qid)
        x.tasks += 1
        x.runMs += m.executorRunTime
        x.cpuNs += m.executorCpuTime
        x.gcMs += m.jvmGCTime
        x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        x.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        x.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        x.peakMem = math.max(x.peakMem, m.peakExecutionMemory)
        x.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  private val markerListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(MarkerKey)))
        .foreach(m => markerSeen = m.toInt)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      lock.synchronized {
        qe.tracker.phases.foreach { case (phase, s) =>
          phases += ((phase, s.startTimeMs.toDouble, s.endTimeMs.toDouble))
        }
        // stamped with the execution's first phase, not with delivery
        // time: the bus delivers after the query may have returned
        for (t <- qe.tracker.phases.values.map(_.startTimeMs).minOption) {
          rootRows(qe.executedPlan).foreach(n => outRows += ((t.toDouble, n)))
          scanBytes += ((t.toDouble, filesRead(qe.executedPlan)))
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      lock.synchronized { streamsStarted += 1 }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized {
        val p = e.progress
        val ts = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        batches += ((ts, p.numInputRows, p.batchDuration))
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      lock.synchronized { streamsEnded += 1 }
  }

  private val logCtx = LogManager.getContext(false).asInstanceOf[LoggerContext]
  private val codegenAppender =
    new AbstractAppender("perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        CodegenLine.findFirstMatchIn(e.getMessage.getFormattedMessage).foreach { m =>
          lock.synchronized { codegen += ((e.getTimeMillis.toDouble, m.group(1).toDouble)) }
        }
    }
  codegenAppender.start()
  sc.addSparkListener(markerListener)

  @volatile private var on = false

  /** Attach (true) or detach (false) every listener; untraced passes of a
    * traced run detach them so the overhead comparison is clean. */
  def enable(flag: Boolean): Unit = if (flag != on) {
    on = flag
    val cfg = logCtx.getConfiguration
    if (flag) {
      sc.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
      val lc = new LoggerConfig(CodegenLogger, Level.INFO, false)
      lc.addAppender(codegenAppender, Level.INFO, null)
      cfg.addLogger(CodegenLogger, lc)
    } else {
      drain()
      sc.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
      cfg.removeLogger(CodegenLogger)
    }
    logCtx.updateLoggers()
  }

  /** Wait until the listener bus has delivered every event posted so
    * far: a marker job's start event queues behind all of them, and
    * streaming terminations (a separate queue) must match the starts. */
  private def drain(): Unit = {
    val seq = markerSeq.incrementAndGet()
    sc.setLocalProperty(MarkerKey, seq.toString)
    sc.setLocalProperty(QidKey, MarkerQid.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally { sc.setLocalProperty(MarkerKey, null); sc.setLocalProperty(QidKey, null) }
    val deadline = System.currentTimeMillis() + 30000
    def done = markerSeen >= seq && lock.synchronized(streamsEnded >= streamsStarted)
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  /** Run `body` with its Spark jobs tagged as query `qid`. */
  def tagged[T](qid: Int)(body: => T): T = {
    sc.setLocalProperty(QidKey, qid.toString)
    try body finally sc.setLocalProperty(QidKey, null)
  }

  /** Spans and per-layer metrics over the traced executions. `setup` is
    * the (start, end) of the table-scan step, tagged as [[SetupQid]]. */
  def report(workload: String, execs: Seq[Exec], tablesSpan: (Double, Double),
      passSpans: Seq[(Int, Boolean, Double, Double)], storage: Map[String, Double],
      untracedWall: Seq[Double], tracedWall: Seq[Double])
      : (Seq[Map[String, Any]], Map[String, Double]) = {
    if (on) enable(false)
    lock.synchronized {
      val traced = execs.filter(_.traced)
      def within(t: Double): Option[Exec] = traced.find(e => t >= e.t0 && t <= e.t2)
      val phaseBy = phases.toSeq.flatMap(p => within(p._2).map(_ -> p)).groupMap(_._1.qid)(_._2)
      val codegenBy = codegen.toSeq.flatMap(c => within(c._1).map(_ -> c)).groupMap(_._1.qid)(_._2)
      val rowsBy = outRows.toSeq.flatMap(r => within(r._1).map(_ -> r._2))
        .groupMap(_._1.qid)(_._2).view.mapValues(_.last).toMap
      val stagesBy = stages.toSeq.groupBy(_.qid)

      // spans: workload -> pass -> query -> {define, plan, exec} -> stage
      val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
      var nextId = 0
      def span(parent: Int, qid: Int, name: String, s: Double, e: Double,
          attrs: Map[String, Any] = Map.empty): Int = {
        nextId += 1
        spans += Map("id" -> nextId, "parent" -> parent, "qid" -> qid, "name" -> name,
          "start_ms" -> s, "end_ms" -> e) ++ attrs
        nextId
      }
      val root = span(0, NoQid, s"workload:$workload",
        (tablesSpan._1 +: execs.map(_.t0)).min, (tablesSpan._2 +: execs.map(_.t2)).max)
      span(root, SetupQid, "Tables.scan", tablesSpan._1, tablesSpan._2)
      val perQuery = mutable.Map.empty[Int, Map[String, Double]]
      for ((pass, isTraced, ps, pe) <- passSpans) {
        val passId = span(root, NoQid, s"pass:$pass", ps, pe, Map("traced" -> isTraced))
        for (e <- traced if e.pass == pass) {
          val qSpan = span(passId, e.qid, s"query:${e.name}", e.t0, e.t2,
            Map("module" -> e.module, "ok" -> e.ok))
          span(qSpan, e.qid, "define", e.t0, e.t1)
          val ph = phaseBy.getOrElse(e.qid, Nil).filter(_._2 >= e.t1)
          val planEnd = if (ph.isEmpty) e.t1 else math.max(e.t1, ph.map(_._3).max)
          span(qSpan, e.qid, "plan", e.t1, planEnd)
          val execId = span(qSpan, e.qid, "exec", planEnd, e.t2)
          val st = stagesBy.getOrElse(e.qid, Nil)
          st.foreach(s => span(execId, e.qid, s"stage:${s.stageId}.${s.attempt}",
            s.start, s.end, Map("stage_name" -> s.name)))
          val x = acc.getOrElse(e.qid, new Acc)
          val allPh = phaseBy.getOrElse(e.qid, Nil)
          def phase(n: String) = allPh.filter(_._1 == n).map(p => p._3 - p._2).sum / 1000
          val wall = (e.t2 - e.t0) / 1000
          val active = union(st.map(s => (math.max(s.start, e.t0), math.min(s.end, e.t2)))) / 1000
          val cg = codegenBy.getOrElse(e.qid, Nil)
          val planS = (planEnd - e.t1) / 1000
          perQuery(e.qid) = Map(
            "operators.define_s" -> (e.t1 - e.t0) / 1000,
            "plan.span_s" -> planS,
            "exec.span_s" -> (e.t2 - planEnd) / 1000,
            "plans.analysis_s" -> phase("analysis"),
            "plans.optimization_s" -> phase("optimization"),
            "plans.planning_s" -> phase("planning"),
            "plans.codegen_compile_s" -> cg.map(_._2).sum / 1000,
            "plans.codegen_classes" -> cg.size.toDouble,
            "exec.jobs" -> x.jobs.toDouble,
            "exec.stages" -> x.stages.toDouble,
            "exec.tasks" -> x.tasks.toDouble,
            "exec.run_s" -> x.runMs / 1000.0,
            "exec.cpu_s" -> x.cpuNs / 1e9,
            "exec.gc_s" -> x.gcMs / 1000.0,
            "exec.shuffle_write_bytes" -> x.shuffleWrite.toDouble,
            "exec.shuffle_read_bytes" -> x.shuffleRead.toDouble,
            "exec.shuffle_wait_s" -> x.fetchWaitMs / 1000.0,
            "exec.spill_bytes" -> x.spill.toDouble,
            "exec.peak_exec_mem_bytes" -> x.peakMem.toDouble,
            "exec.input_rows" -> x.inputRows.toDouble,
            "exec.output_rows" -> rowsBy.getOrElse(e.qid, 0L).toDouble,
            "exec.stage_active_s" -> active,
            "exec.driver_only_s" -> (wall - active))
        }
      }

      // per-pass sums over the traced passes, then the median over passes
      val tracedPasses = passSpans.filter(_._2)
      def perPass(f: Exec => Double): Seq[Double] =
        tracedPasses.map { case (p, _, _, _) => traced.filter(_.pass == p).map(f).sum }
      def med(f: Exec => Double): Double = median(perPass(f))
      def q(k: String)(e: Exec): Double = perQuery.get(e.qid).flatMap(_.get(k)).getOrElse(0.0)
      val sumKeys = Seq("operators.define_s", "plans.analysis_s", "plans.optimization_s",
        "plans.planning_s", "plans.codegen_compile_s", "plans.codegen_classes",
        "exec.jobs", "exec.stages", "exec.tasks", "exec.run_s", "exec.cpu_s", "exec.gc_s",
        "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.shuffle_wait_s",
        "exec.spill_bytes", "exec.input_rows", "exec.output_rows", "exec.driver_only_s")
      val m = mutable.LinkedHashMap.empty[String, Double]
      m("Tables.scan_s") = (tablesSpan._2 - tablesSpan._1) / 1000
      // the scan nodes' file-size metric: Parquet's vectored reads bypass
      // the task-level Hadoop byte counters
      m("Tables.input_bytes") = scanBytes.filter(b =>
        b._1 >= tablesSpan._1 && b._1 <= tablesSpan._2).map(_._2).sum.toDouble
      sumKeys.foreach(k => m(k) = med(q(k)))
      m("exec.peak_exec_mem_bytes") =
        traced.map(q("exec.peak_exec_mem_bytes")).foldLeft(0.0)(math.max)
      m("exec.rows_in_per_row_out") =
        if (m("exec.output_rows") > 0) m("exec.input_rows") / m("exec.output_rows") else 0.0
      val activeSum = med(q("exec.stage_active_s"))
      m("exec.slot_util") = if (activeSum > 0) m("exec.run_s") / (activeSum * cpus) else 0.0
      val batchPerPass = tracedPasses.map { case (_, _, s, e) =>
        batches.filter(b => b._1 >= s && b._1 <= e) }
      m("streaming.batches") = median(batchPerPass.map(_.size.toDouble))
      m("streaming.batch_s") = median(batchPerPass.map(_.map(_._3).sum / 1000.0))
      m("streaming.input_rows") = median(batchPerPass.map(_.map(_._2).sum.toDouble))
      storage.foreach { case (k, v) => m(k) = v }
      for (mod <- Modules.names) {
        val in = (e: Exec) => if (e.module == mod) 1.0 else 0.0
        m(s"$mod.define_s") = med(e => in(e) * q("operators.define_s")(e))
        m(s"$mod.plan_s") = med(e => in(e) * q("plan.span_s")(e))
        m(s"$mod.exec_s") = med(e => in(e) * q("exec.span_s")(e))
      }
      m("trace.overhead_s") = median(tracedWall) - median(untracedWall)
      (spans.toSeq, m.toMap)
    }
  }
}

object Tracer {
  val QidKey = "perfbench.qid"
  private val MarkerKey = "perfbench.marker"
  val NoQid = -1
  val SetupQid = 0
  private val MarkerQid = -2
  private val markerSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  private val CodegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val CodegenLine = """Code generated in ([0-9.]+) ms""".r

  private final class Acc {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
    var peakMem, inputRows = 0L
  }

  private final case class StageSpan(qid: Int, stageId: Int, attempt: Int, name: String,
      start: Double, end: Double)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Length of the union of intervals (empty intervals ignored). */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (open && s <= curE) curE = math.max(curE, e)
      else { if (open) total += curE - curS; curS = s; curE = e; open = true }
    }
    if (open) total += curE - curS
    total
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case other => other.children
  }).flatMap(nodes)

  /** Bytes of the files the plan's scans read. */
  private def filesRead(p: SparkPlan): Long =
    nodes(p).flatMap(_.metrics.get("filesSize")).map(_.value).sum

  /** Rows the query returned: the first row counter on the path from the
    * write node down through AQE and query-stage wrappers. */
  private def rootRows(p: SparkPlan): Option[Long] = {
    p.metrics.get("numOutputRows").map(_.value).orElse {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case other => other.children
      }
      if (kids.size == 1) rootRows(kids.head) else None
    }
  }
}
