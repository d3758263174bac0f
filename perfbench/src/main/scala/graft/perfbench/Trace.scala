package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark counts gathered from outside the program. Integer counts must
  * repeat exactly between two runs on one seed; the times are context.
  */
final class Counts {
  var jobs, stages, tasks = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var inputBytes, outputBytes = 0L
  var filesRead, partitionsRead, rowsScanned = 0L
  var executorCpuNs, gcMs = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    filesRead += o.filesRead; partitionsRead += o.partitionsRead
    rowsScanned += o.rowsScanned
    executorCpuNs += o.executorCpuNs; gcMs += o.gcMs
  }

  /** The counts that do not depend on the machine's speed. */
  def exact: Seq[(String, Long)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes,
    "input_bytes" -> inputBytes, "output_bytes" -> outputBytes,
    "files_read" -> filesRead, "partitions_read" -> partitionsRead,
    "rows_scanned" -> rowsScanned)
}

/** One traced interval: a public call, a layer-decomposition call, or
  * (id < 0) a Spark job attributed to the span that submitted it.
  */
final case class Span(id: Int, name: String, parent: Int, kind: String,
                      startMs: Double, endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1e3
  def layer: String = if (id < 0) "spark" else name.takeWhile(_ != '.')
}

/** The traced run's recorder. Each span sets a Spark job group, so the
  * benchmark's own [[SparkListener]] attributes jobs, stages and tasks
  * to it, and its [[QueryExecutionListener]] adds the files each scan
  * read. Spans stay in memory until [[report]].
  */
final class Tracer(spark: SparkSession, val runId: String) {
  private val sc = spark.sparkContext
  private val GroupPrefix = "perfbench-span-"
  // epoch-ms offset of System.nanoTime, so spans and Spark's job
  // timestamps share one clock
  private val epochOffsetMs =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  private def nowMs = System.nanoTime() / 1e6 + epochOffsetMs

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, String, String, Double)]
  private var nextId = 0

  private final case class Job(id: Int, span: Int, startMs: Long,
                               var endMs: Long, execId: Option[Long])
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageCounts = mutable.ArrayBuffer.empty[(Int, Counts)]
  // SQL execution id → span, from the execution's job group
  private val execGroup = mutable.Map.empty[Long, Int]
  // the QueryExecutionListener sees plans but not execution ids; the
  // execution-end event pairs the two
  private val execOfQe = new java.util.IdentityHashMap[QueryExecution, Long]()
  private val qeCounts = new java.util.IdentityHashMap[QueryExecution, Counts]()

  private def spanOfGroup(g: Option[String]): Int =
    g.filter(_.startsWith(GroupPrefix)).map(_.stripPrefix(GroupPrefix).toInt)
      .getOrElse(-1)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      val span = spanOfGroup(
        props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
      val exec = props.flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      jobs(e.jobId) = Job(e.jobId, span, e.time, e.time, exec)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val info = e.stageInfo
        val c = new Counts
        c.stages = 1
        c.tasks = info.numTasks
        Option(info.taskMetrics).foreach { m =>
          c.shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten
          c.spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputBytes = m.inputMetrics.bytesRead
          c.outputBytes = m.outputMetrics.bytesWritten
          c.executorCpuNs = m.executorCpuTime
          c.gcMs = m.jvmGCTime
        }
        stageCounts += info.stageId -> c
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Tracer.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          execGroup(s.executionId) = spanOfGroup(s.jobGroupId)
        case x: SparkListenerSQLExecutionEnd =>
          Option(org.apache.spark.sql.PerfbenchBridge.queryExecution(x))
            .foreach(execOfQe.put(_, x.executionId))
        case _ => ()
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val c = new Counts
      def walk(p: SparkPlan): Unit = {
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: QueryStageExec => walk(q.plan)
          case c: CommandResultExec => walk(c.commandPhysicalPlan)
          case _ =>
            if (p.nodeName.contains("Scan") && p.metrics.contains("numFiles")) {
              c.filesRead += p.metrics("numFiles").value
              p.metrics.get("numPartitions").foreach(c.partitionsRead += _.value)
              p.metrics.get("numOutputRows").foreach(c.rowsScanned += _.value)
            }
            p.children.foreach(walk)
            p.subqueries.foreach(walk)
        }
      }
      try walk(qe.executedPlan) catch { case _: Exception => () }
      Tracer.this.synchronized { qeCounts.put(qe, c) }
    }
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Run `body` as a span; `kind` tags the public calls the per-layer
    * metrics summarise (build, write, read, lookup).
    */
  def span[T](name: String, kind: String = "")(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = if (stack.isEmpty) -1 else stack.top._1
    stack.push((id, name, kind, nowMs))
    sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
    try body
    finally {
      val (_, _, _, start) = stack.pop()
      val end = nowMs
      synchronized { spans += Span(id, name, parent, kind, start, end) }
      if (stack.isEmpty) sc.clearJobGroup()
      else sc.setJobGroup(GroupPrefix + stack.top._1, stack.top._2,
        interruptOnCancel = false)
    }
  }

  def close(): Unit = {
    org.apache.spark.sql.PerfbenchBridge.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Everything the traced run recorded, with Spark jobs as child spans
    * and counts attributed to the span that submitted them.
    */
  def report(): TraceReport = synchronized {
    org.apache.spark.sql.PerfbenchBridge.drain(sc)
    val all = spans.sortBy(_.startMs).toVector
    // a job outside every group (a pool thread that inherited no group)
    // goes to the innermost span open at its start
    def byTime(ms: Long): Int =
      all.filter(s => s.startMs <= ms && ms <= s.endMs)
        .sortBy(-_.startMs).headOption.map(_.id).getOrElse(-1)
    val jobSpan = jobs.values.map(j =>
      j.id -> (if (j.span >= 0) j.span else byTime(j.startMs))).toMap
    val self = mutable.Map.empty[Int, Counts]
    def of(id: Int) = self.getOrElseUpdate(id, new Counts)
    jobs.values.foreach(j => of(jobSpan(j.id)).jobs += 1)
    stageCounts.foreach { case (stage, c) =>
      stageJob.get(stage).foreach(j => of(jobSpan(j)).add(c))
    }
    val execSpan = jobs.values.flatMap(j => j.execId.map(_ -> jobSpan(j.id)))
      .toMap ++ execGroup.filter(_._2 >= 0)
    qeCounts.asScala.foreach { case (qe, c) =>
      of(Option(execOfQe.get(qe)).flatMap(execSpan.get).getOrElse(-1)).add(c)
    }
    val jobSpans = jobs.values.map(j =>
      Span(-1 - j.id, s"spark.job.${j.id}", jobSpan(j.id), "",
        j.startMs.toDouble, j.endMs.toDouble)).toVector
    TraceReport(runId, all, jobSpans, self.toMap)
  }
}

final case class TraceReport(runId: String, spans: Vector[Span],
                             jobSpans: Vector[Span],
                             selfCounts: Map[Int, Counts]) {
  private val children: Map[Int, Vector[Span]] =
    (spans ++ jobSpans).groupBy(_.parent)

  /** Counts of a span and everything under it. */
  def counts(s: Span): Counts = {
    val c = new Counts
    def walk(id: Int): Unit = {
      selfCounts.get(id).foreach(c.add)
      spans.filter(_.parent == id).foreach(k => walk(k.id))
    }
    walk(s.id)
    c
  }

  private def covered(s: Span, kids: Seq[Span]): Double = {
    // union of the children's intervals, clipped to the span
    val iv = kids.map(k => (math.max(k.startMs, s.startMs),
      math.min(k.endMs, s.endMs))).filter(p => p._2 > p._1).sortBy(_._1)
    var total = 0.0
    var (a, b) = (Double.NaN, Double.NaN)
    iv.foreach { case (x, y) =>
      if (a.isNaN) { a = x; b = y }
      else if (x <= b) b = math.max(b, y)
      else { total += b - a; a = x; b = y }
    }
    if (!a.isNaN) total += b - a
    total / 1e3
  }

  private def descendantJobs(s: Span): Seq[Span] =
    jobSpans.filter(_.parent == s.id) ++
      spans.filter(_.parent == s.id).flatMap(descendantJobs)

  /** Span time in which no Spark job of it ran: planning, listing,
    * driver-side loops and the scheduler's gaps between jobs.
    */
  def driverGapSeconds(s: Span): Double = s.seconds - covered(s, descendantJobs(s))

  /** Duration minus the part its child spans (jobs included) cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - covered(s, children.getOrElse(s.id, Vector.empty))

  /** Self time per layer; Spark job time is the `spark` layer. */
  def selfByLayer: Seq[(String, Double)] = {
    val top = spans.filter(_.parent == -1)
    val jobSelf = top.map(t => covered(t, descendantJobs(t))).sum
    (spans.groupBy(_.layer).view.mapValues(_.map(selfSeconds).sum).toSeq
      :+ ("spark" -> jobSelf)).sortBy(-_._2)
  }

  /** Occurrence-indexed exact counts per span, the key two runs on one
    * seed are compared by.
    */
  def exactCounts: Seq[(String, Seq[(String, Long)])] = {
    val seen = mutable.Map.empty[String, Int].withDefaultValue(0)
    spans.sortBy(_.startMs).map { s =>
      val n = seen(s.name)
      seen(s.name) = n + 1
      s"${s.name}#$n" -> counts(s).exact
    }
  }

  def spanLines: Seq[String] = (spans ++ jobSpans).sortBy(_.startMs).map { s =>
    val c = if (s.id >= 0) counts(s) else new Counts
    val fields = Seq(
      "run" -> Json.str(runId), "id" -> s.id.toString,
      "name" -> Json.str(s.name), "parent" -> s.parent.toString,
      "kind" -> Json.str(s.kind),
      "start_ms" -> f"${s.startMs}%.3f", "end_ms" -> f"${s.endMs}%.3f") ++
      (if (s.id >= 0)
        c.exact.map { case (k, v) => k -> v.toString } ++ Seq(
          "executor_cpu_s" -> Json.num(c.executorCpuNs / 1e9),
          "gc_s" -> Json.num(c.gcMs / 1e3),
          "driver_gap_s" -> Json.num(driverGapSeconds(s)),
          "self_s" -> Json.num(selfSeconds(s)))
      else Nil)
    Json.obj(fields)
  }
}
