package graftbench

import java.nio.file.Path

import org.apache.spark.sql.functions.col

import graft.etl.{EtlPaths, EtlSummary, Pipeline}

/** The paper's own job: the four sheets replayed day after day through
  * `Pipeline.run` into one warehouse. Every day rescans each sheet in
  * full and rewrites the master tables, so Extract, Load and execution
  * do most of the work.
  */
final class EtlDaily extends Workload {
  val name = "etl_daily"
  val opKind = "etl_day"
  val opModule = "etl.Pipeline"

  private var in: EtlGen.Inputs = _
  private var paths: EtlPaths = _
  private var next = 0

  def generate(ctx: Ctx): String = {
    in = EtlGen.generate(ctx.seed, ctx.dir("sheets"))
    in.digest
  }

  private def run(ctx: Ctx, dayIdx: Int): Boolean = {
    val day = in.days(dayIdx)
    val got = Pipeline.run(ctx.spark, paths, day)
    val e = in.expected(day)
    val ok = got == EtlSummary(e.cursos, e.estudiantes, e.matriculas, e.pagos)
    if (!ok) System.err.println(s"[etl_daily] $day: got $got, expected $e")
    ok
  }

  def prepare(ctx: Ctx): Unit = {
    paths = EtlPaths(in.path("raw_cursos.csv"), in.path("raw_estudiantes.csv"),
      in.path("raw_matriculas.csv"), in.path("raw_pagos.csv"),
      ctx.dir("warehouse").toString, ctx.dir("quarantine").toString)
    // the first day bootstraps the warehouse: untimed warm-up
    require(run(ctx, 0), "the bootstrap day's summary does not match")
    next = 1
  }

  def step(ctx: Ctx): Option[Boolean] =
    if (next >= in.days.size) None
    else {
      val d = next
      next += 1
      Some(ctx.timed(opKind, opModule, s"day ${in.days(d)}")(run(ctx, d)))
    }

  def finalChecks(ctx: Ctx): Seq[(String, Boolean)] = {
    val wh = paths.warehouseDir
    def pkUnique(table: String, pk: String): Boolean = {
      val df = ctx.spark.read.parquet(s"$wh/$table")
      df.count() == df.select(col(pk)).distinct().count()
    }
    val loaded = ctx.spark.read.parquet(s"$wh/matriculas").count()
    val expected = in.days.take(next).map(d => in.expected(d).matriculas).sum
    Seq(
      "cursos primary keys unique" -> pkUnique("cursos", "codigo_curso"),
      "estudiantes primary keys unique" ->
        pkUnique("estudiantes", "codigo_estudiante"),
      "matriculas primary keys unique" ->
        pkUnique("matriculas", "codigo_matricula"),
      "matriculas rows equal the replayed days' counts" -> (loaded == expected))
  }

  def inputBytes(ops: Int): Double = ops.toDouble * in.bytesPerRun
  def storageRoots(ctx: Ctx): Seq[Path] = Seq(ctx.work.resolve("warehouse"))
  def storedInputBytes(ops: Int): Double = in.bytesPerRun.toDouble

  def extras(ctx: Ctx, ops: Int, loopSeconds: Double): Seq[(String, String, Double)] = Seq(
    ("etl_day_p50_s", "s", Workload.p(ctx, opKind, 50, 1e-3)),
    ("etl_rows_per_s", "1/s",
      if (loopSeconds > 0) ops * in.rowsPerRun / loopSeconds else 0.0))
}
