package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload runs against. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
                val work: Path, val benchDir: Path, val seed: Long) {
  /** Latency samples in milliseconds, per kind of operation. */
  val samples: mutable.Map[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  /** Times `body` as one `kind` sample, inside a span around the call
    * into `module`.
    */
  def timed[T](kind: String, module: String, name: String = "")(body: => T): T =
    if (!measuring) body
    else {
      val t0 = System.nanoTime()
      val out = tracer.span(if (name.isEmpty) kind else name, kind, module)(body)
      samples.getOrElseUpdate(kind, mutable.ArrayBuffer()) +=
        (System.nanoTime() - t0) / 1e6
      out
    }

  /** False during set-up: warm-up calls are neither timed nor traced. */
  var measuring = false

  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
}

/** One benchmark workload: a closed loop with a single client that
  * issues one operation after the previous one completed.
  */
trait Workload {
  def name: String
  /** The sample kind of one loop operation (a day, a pass, a round). */
  def opKind: String
  /** The program module of the loop operation's entry point. */
  def opModule: String

  /** Builds the inputs from `ctx.seed`; returns their digest. */
  def generate(ctx: Ctx): String
  /** Untimed preparation: bootstraps and warm-up. */
  def prepare(ctx: Ctx): Unit
  /** Runs one operation; `None` when the inputs are used up, else
    * whether its output checked out.
    */
  def step(ctx: Ctx): Option[Boolean]
  /** Operations a run measures at least, however long they take. */
  def minOps: Int = 1
  /** Whole-run output checks, run after the measured loop; each entry
    * is (check name, passed).
    */
  def finalChecks(ctx: Ctx): Seq[(String, Boolean)]
  /** Bytes of generated input the measured operations handed to the
    * program (the base of `exec.reread_ratio`).
    */
  def inputBytes(ops: Int): Double
  /** Directories whose files make up the program's stored output. */
  def storageRoots(ctx: Ctx): Seq[Path]
  /** Bytes of input the stored output was built from, if meaningful. */
  def storedInputBytes(ops: Int): Double
  /** Workload-specific figures as (name, unit, value). */
  def extras(ctx: Ctx, ops: Int, loopSeconds: Double): Seq[(String, String, Double)]
}

object Workload {
  val all: Seq[String] = Seq("etl_daily", "catalog_serving", "warehouse_cycle")

  def apply(name: String): Workload = name match {
    case "etl_daily" => new EtlDaily
    case "catalog_serving" => new CatalogServing
    case "warehouse_cycle" => new WarehouseCycle
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (expected one of ${all.mkString(", ")})")
  }

  /** Percentile `pct` of a kind's samples times `scale`, or 0 when the
    * kind has none.
    */
  def p(ctx: Ctx, kind: String, pct: Double, scale: Double = 1.0): Double =
    ctx.samples.get(kind).filter(_.nonEmpty)
      .map(s => Stats.percentile(s.toSeq, pct) * scale).getOrElse(0.0)
}
