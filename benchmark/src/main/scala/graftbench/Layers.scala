package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Files, bytes and generations under the program's stored output. */
final case class Storage(files: Long, bytes: Double, generations: Long)

object Storage {
  /** Generation directories: ingest batches, delete epochs, ETL days. */
  private val Generation = "(batch|epoch|day)=.*".r

  def measure(roots: Seq[Path]): Storage = {
    val paths = roots.filter(Files.exists(_)).flatMap(r =>
      Files.walk(r).iterator().asScala.toSeq)
    val files = paths.filter(p => Files.isRegularFile(p) &&
      !p.getFileName.toString.startsWith("."))
    Storage(files.size.toLong, files.map(Files.size).sum.toDouble,
      paths.count(p => Files.isDirectory(p) &&
        Generation.matches(p.getFileName.toString)).toLong)
  }
}

/** Per-layer metrics from the traced run's spans. */
object Layers {

  /** Verbs reported on their own (the warehouse round's calls). */
  val Verbs: Seq[String] = Seq("ingest", "index_append", "delete", "compact",
    "search")

  /** Workload-specific figures; every traced run reports all of them,
    * 0 where the workload has no such operation.
    */
  val Figures: Seq[(String, String)] = Seq(
    "etl_day_p50_s" -> "s", "etl_rows_per_s" -> "1/s",
    "query_p50_ms" -> "ms", "queries_per_s" -> "1/s",
    "ingest_p50_ms" -> "ms", "index_append_p50_ms" -> "ms",
    "delete_p50_ms" -> "ms", "compact_p50_ms" -> "ms",
    "search_p50_ms" -> "ms", "stored_bytes_per_input_byte" -> "ratio",
    "failed_frac" -> "ratio")

  private val MB = 1048576.0

  def metrics(t: Tracer, w: Workload, ops: Int,
              storage: Storage): Seq[(String, String, Double)] = {
    val all = t.allSpans
    val top = t.topSpans
    val cs = all.map(_.c)
    def sum(f: Counters => Long): Double = cs.map(f).sum.toDouble
    def topSum(f: Counters => Long): Double = top.map(s => f(s.c)).sum.toDouble
    val wallMs = top.map(_.wallMs).sum.toDouble
    val gapMs = top.map(_.gapMs).sum.toDouble
    val jobs = all.flatMap(_.jobs)

    val modules = Attribution.Modules.flatMap { m =>
      val wall = top.map(s => Stats.unionLength(Stats.clip(
        s.subtreeJobs.filter(_._3 == m).map(j => (j._1, j._2)),
        s.startMs, s.endMs))).sum
      Seq((s"$m.jobs", "count", jobs.count(_._3 == m).toDouble),
        (s"$m.task_s", "s", all.map(_.moduleTaskMs(m)).sum / 1e3),
        (s"$m.job_wall_s", "s", wall / 1e3))
    }
    val inputB = sum(_.input)
    val base = w.inputBytes(ops)
    val exec = Seq(
      ("catalyst.executions", "count", sum(_.executions)),
      ("catalyst.analysis_ms", "ms", sum(_.analysisMs)),
      ("catalyst.optimization_ms", "ms", sum(_.optimizationMs)),
      ("catalyst.planning_ms", "ms", sum(_.planningMs)),
      ("exec.jobs", "count", sum(_.jobs)),
      ("exec.stages", "count", sum(_.stages)),
      ("exec.tasks", "count", sum(_.tasks)),
      ("exec.failed_tasks", "count", sum(_.failedTasks)),
      ("exec.task_s", "s", sum(_.taskMs) / 1e3),
      ("exec.job_wall_s", "s", top.map(_.jobWallMs).sum / 1e3),
      ("exec.shuffle_write_mb", "MB", sum(_.shuffleWrite) / MB),
      ("exec.shuffle_read_mb", "MB", sum(_.shuffleRead) / MB),
      ("exec.spill_mb", "MB", sum(_.spill) / MB),
      ("exec.input_mb", "MB", inputB / MB),
      ("exec.output_mb", "MB", sum(_.output) / MB),
      ("exec.reread_ratio", "ratio", if (base > 0) inputB / base else 0.0),
      ("driver.gap_s", "s", gapMs / 1e3),
      ("driver.gap_frac", "ratio", if (wallMs > 0) gapMs / wallMs else 0.0),
      ("driver.gc_s", "s", topSum(_.gcMs) / 1e3),
      ("fs.read_ops", "count", topSum(_.fsReadOps)),
      ("fs.write_ops", "count", topSum(_.fsWriteOps)),
      ("fs.list_ops", "count", topSum(_.fsListOps)),
      ("fs.bytes_read_mb", "MB", topSum(_.fsBytesRead) / MB),
      ("fs.bytes_written_mb", "MB", topSum(_.fsBytesWritten) / MB),
      ("storage.files", "count", storage.files.toDouble),
      ("storage.mb", "MB", storage.bytes / MB),
      ("storage.generations", "count", storage.generations.toDouble))
    val verbs = Verbs.flatMap { v =>
      val ss = all.filter(_.verb == v)
      Seq((s"$v.driver.gap_s", "s", ss.map(_.gapMs).sum / 1e3),
        (s"$v.exec.jobs", "count", ss.map(_.subtreeJobs.size).sum.toDouble))
    }
    modules ++ exec ++ verbs
  }
}
