package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters one span collects; all times in milliseconds. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
  var executions = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var fsReadOps = 0L
  var fsWriteOps = 0L
  var fsListOps = 0L
  var fsBytesRead = 0L
  var fsBytesWritten = 0L
  var gcMs = 0L
}

/** One call the benchmark made into the program (or the operation that
  * groups such calls). `verb` names the kind of call, `module` the
  * program module whose entry point it calls.
  */
final class Span(val id: Int, val name: String, val verb: String,
                 val module: String, val parent: Option[Span],
                 val startMs: Long) {
  var endMs: Long = startMs
  val c = new Counters
  /** (start, end, module) of the jobs this span launched itself. */
  val jobs = mutable.ArrayBuffer[(Long, Long, String)]()
  val moduleTaskMs = mutable.Map[String, Long]().withDefaultValue(0L)
  val children = mutable.ArrayBuffer[Span]()
  def wallMs: Long = endMs - startMs
  def subtree: Seq[Span] = this +: children.toSeq.flatMap(_.subtree)
  def subtreeJobs: Seq[(Long, Long, String)] = subtree.flatMap(_.jobs)
  def jobWallMs: Long =
    Stats.unionLength(Stats.clip(subtreeJobs.map(j => (j._1, j._2)),
      startMs, endMs))
  def gapMs: Long = wallMs - jobWallMs
  /** Jobs of this span that started before it or ended after it: jobs
    * attributed to the wrong span, which the clipped job wall hides.
    */
  def leakedJobs: Int = jobs.count(j => j._1 < startMs || j._2 > endMs)
  def selfMs: Long = wallMs - Stats.unionLength(
    Stats.clip(children.toSeq.map(s => (s.startMs, s.endMs)), startMs, endMs))
}

/** The benchmark's tracer. Untraced, `span` only runs its body. Traced,
  * it sets the Spark job group to the span id, so every job maps to its
  * span, and one SparkListener plus one QueryExecutionListener count
  * jobs, stages, tasks, bytes and Catalyst phase times per span. Spans
  * stay in memory until [[writeJsonLines]].
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  @volatile private var current: Option[Span] = None
  private val byId = mutable.Map[Int, Span]()
  private val openJobs = mutable.Map[Int, (Span, String, Long)]()
  private val stageSpan = mutable.Map[Int, (Span, String)]()

  private val GroupKey = "spark.jobGroup.id"
  private val ExecutionIdKey = "spark.sql.execution.id"
  /** Program module of each SQL execution, from its call site. */
  private val executionModule = mutable.Map[Long, Option[String]]()

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(GroupKey)))
        .flatMap(g => g.toIntOption).flatMap(byId.get)
      span match {
        case Some(s) =>
          // SQL jobs take the call site of their query execution (AQE
          // runs query stages from a thread pool whose stacks hold no
          // program frame); other jobs take their own long call site,
          // which Spark records on the job's stages
          val execModule = props
            .flatMap(p => Option(p.getProperty(ExecutionIdKey)))
            .flatMap(_.toLongOption).flatMap(executionModule.get).flatten
          val callSite = e.stageInfos.sortBy(-_.stageId).headOption
            .map(_.details).orNull
          val module = execModule.orElse(Attribution.moduleOf(callSite))
            .getOrElse(s.module)
          openJobs(e.jobId) = (s, module, e.time)
          e.stageIds.foreach(st => stageSpan(st) = (s, module))
          s.c.jobs += 1
        case None => // set-up and output checks run outside any span
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        Tracer.this.synchronized {
          executionModule(x.executionId) = Attribution.moduleOf(x.details)
        }
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      openJobs.remove(e.jobId).foreach { case (s, module, t0) =>
        s.jobs += ((t0, e.time, module))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        stageSpan.get(e.stageInfo.stageId).foreach(_._1.c.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageId).foreach { case (s, module) =>
        val c = s.c
        c.tasks += 1
        if (e.reason != Success) c.failedTasks += 1
        val ms = e.taskInfo.duration
        c.taskMs += ms
        s.moduleTaskMs(module) += ms
        Option(e.taskMetrics).foreach { m =>
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.input += m.inputMetrics.bytesRead
          c.output += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private object QeListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      current.foreach { s =>
        val phases = qe.tracker.phases
        def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
        s.c.executions += 1
        s.c.analysisMs += ms("analysis")
        s.c.optimizationMs += ms("optimization")
        s.c.planningMs += ms("planning")
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  if (enabled) {
    sc.addSparkListener(Listener)
    spark.listenerManager.register(QeListener)
  }

  private def fsSnapshot(): Array[Long] = {
    val a = new Array[Long](5)
    a(0) = CountingLocalFileSystem.reads.get
    a(1) = CountingLocalFileSystem.writes.get
    a(2) = CountingLocalFileSystem.lists.get
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .foreach { st =>
        def get(key: String): Long = Option(st.getLong(key)).map(_.longValue).getOrElse(0L)
        a(3) = get("bytesRead"); a(4) = get("bytesWritten")
      }
    a
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  private def drain(): Unit = org.apache.spark.graftbench.ListenerBusDrain(sc)

  /** Runs `body` inside a span named `name`. */
  def span[T](name: String, verb: String, module: String)(body: => T): T =
    if (!enabled) body
    else {
      drain() // events of earlier work land on earlier spans
      val parent = current
      val s = synchronized {
        val sp = new Span(spans.size, name, verb, module, parent,
          System.currentTimeMillis())
        spans += sp; byId(sp.id) = sp
        parent.foreach(_.children += sp)
        sp
      }
      val fs0 = fsSnapshot(); val gc0 = gcMs()
      current = Some(s)
      sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
      try body
      finally {
        s.endMs = System.currentTimeMillis()
        val fs1 = fsSnapshot(); val gc1 = gcMs()
        drain()
        synchronized {
          s.c.fsReadOps += fs1(0) - fs0(0); s.c.fsWriteOps += fs1(1) - fs0(1)
          s.c.fsListOps += fs1(2) - fs0(2); s.c.fsBytesRead += fs1(3) - fs0(3)
          s.c.fsBytesWritten += fs1(4) - fs0(4); s.c.gcMs += gc1 - gc0
        }
        current = parent
        parent match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def allSpans: Seq[Span] = synchronized(spans.toSeq)
  /** Jobs whose start was seen but whose end was not. */
  def unendedJobs: Int = synchronized(openJobs.size)
  def topSpans: Seq[Span] = allSpans.filter(_.parent.isEmpty)

  /** Flushes outstanding events; call before reading the spans. */
  def finish(): Unit = if (enabled) drain()

  /** One JSON object per span, then nothing else. */
  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = allSpans.map { s =>
      val c = s.c
      val mods = s.jobs.groupBy(_._3).map { case (m, js) =>
        m -> Json.Raw(Json.obj("jobs" -> js.size,
          "task_ms" -> s.moduleTaskMs(m)))
      }
      Json.obj("span" -> s.id, "parent" -> s.parent.map(_.id).getOrElse(-1),
        "name" -> s.name, "verb" -> s.verb, "module" -> s.module,
        "start_ms" -> s.startMs, "wall_ms" -> s.wallMs, "self_ms" -> s.selfMs,
        "job_wall_ms" -> s.jobWallMs, "gap_ms" -> s.gapMs,
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "failed_tasks" -> c.failedTasks, "task_ms" -> c.taskMs,
        "shuffle_write_b" -> c.shuffleWrite, "shuffle_read_b" -> c.shuffleRead,
        "spill_b" -> c.spill, "input_b" -> c.input, "output_b" -> c.output,
        "executions" -> c.executions, "analysis_ms" -> c.analysisMs,
        "optimization_ms" -> c.optimizationMs, "planning_ms" -> c.planningMs,
        "fs_read_ops" -> c.fsReadOps, "fs_write_ops" -> c.fsWriteOps,
        "fs_list_ops" -> c.fsListOps, "fs_bytes_read" -> c.fsBytesRead,
        "fs_bytes_written" -> c.fsBytesWritten, "gc_ms" -> c.gcMs,
        "modules" -> Json.Raw(Json.obj(mods.toSeq: _*)))
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** Peak live driver heap: the heap in use right after a full garbage
  * collection, read through the JVM's memory MXBean after every
  * operation.
  */
final class HeapWatch {
  private var peak = 0L
  private val memory = ManagementFactory.getMemoryMXBean

  /** Heap in use after a full collection, once it has settled: Spark
    * drops an operation's broadcasts and cached blocks asynchronously
    * (its cleaner acts on references a collection cleared, a few hundred
    * milliseconds later), so collect every 300 ms until three readings
    * in a row agree within 1 MB (at most ten collections).
    */
  def live(): Long = {
    val readings = mutable.ArrayBuffer[Long]()
    def settled = readings.size >= 3 &&
      readings.takeRight(3).max - readings.takeRight(3).min <= (1L << 20)
    while (!settled && readings.size < 10) {
      if (readings.nonEmpty) Thread.sleep(300)
      System.gc()
      readings += memory.getHeapMemoryUsage.getUsed
    }
    readings.last
  }

  /** Records the live heap now (call outside any timed operation). */
  def sample(): Unit = peak = math.max(peak, live())
  def peakBytes: Long = peak
}
