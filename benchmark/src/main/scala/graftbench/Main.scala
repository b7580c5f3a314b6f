package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point (run through `run.py`):
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *        --bench-dir DIR [--record-expected FILE]
  *
  * Prints a human-readable report, then `RESULT <json>` as its last
  * line. With `--trace 0` the JSON carries the end-to-end metrics, with
  * `--trace 1` the per-layer metrics.
  */
object Main {

  /** Progress on standard error, in seconds since JVM start. */
  private def phase(what: String): Unit = System.err.println(
    f"[benchmark] ${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s: $what")

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit = {
    val workload = Workload(arg(args, "--workload").getOrElse(
      sys.error("--workload is required")))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val work = Paths.get(arg(args, "--work").getOrElse("work")).toAbsolutePath
    val benchDir = Paths.get(arg(args, "--bench-dir").getOrElse("."))
      .toAbsolutePath
    val record = arg(args, "--record-expected")
    Files.createDirectories(work)

    val cores = Runtime.getRuntime.availableProcessors
    val builder = SparkSession.builder()
    if (traced) builder.config("spark.hadoop.fs.file.impl",
      classOf[CountingLocalFileSystem].getName)
    val spark = builder
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.queries.Catalog.tune(spark)
    // a first job that touches no benchmark data; each workload's
    // prepare step warms its own paths
    spark.range(1000).selectExpr("sum(id)").collect()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    phase("session ready")
    val tracer = new Tracer(spark, traced)
    val ctx = new Ctx(spark, tracer, work, benchDir, seed)
    val heap = new HeapWatch

    // ---- set-up: input generation (its determinism is a unit test;
    // the digest printed below lets runs be compared) and warm-up
    val t0 = System.nanoTime()
    val digest = workload.generate(ctx)
    val genS = (System.nanoTime() - t0) / 1e9
    workload.prepare(ctx)
    val prepareS = (System.nanoTime() - t0) / 1e9 - genS
    val setupS = sessionS + genS + prepareS

    // ---- the measured closed loop
    ctx.measuring = true
    var attempted = 0
    var failed = 0
    val loop0 = System.nanoTime()
    var more = true
    while (more) {
      val r =
        try workload.step(ctx)
        catch { case e: Exception =>
          System.err.println(s"[${workload.name}] operation $attempted failed: $e")
          e.printStackTrace()
          Some(false)
        }
      heap.sample() // outside the operation's time
      r match {
        case None => more = false
        case Some(ok) =>
          attempted += 1
          if (!ok) failed += 1
          more = ok && ((System.nanoTime() - loop0) / 1e9 < seconds ||
            attempted < workload.minOps)
      }
    }
    phase("loop done")
    tracer.finish()
    val ops = attempted
    val heapPeakMb = heap.peakBytes / 1048576.0
    val opSamples = ctx.samples.getOrElse(workload.opKind,
      scala.collection.mutable.ArrayBuffer.empty[Double]).toSeq
    val opSeconds = opSamples.sum / 1e3
    val storage = Storage.measure(workload.storageRoots(ctx))
    val storedRatio = workload.storedInputBytes(ops) match {
      case b if b > 0 => storage.bytes / b
      case _ => 0.0
    }

    // ---- output checks
    val checks =
      try workload.finalChecks(ctx)
      catch { case e: Exception =>
        System.err.println(s"[${workload.name}] final checks failed: $e")
        e.printStackTrace()
        Seq("final checks ran" -> false)
      }
    phase("checks done")
    attempted += checks.size
    failed += checks.count(!_._2)

    record.foreach { f =>
      workload match {
        case c: CatalogServing => Files.writeString(Paths.get(f),
          c.recorded.toSeq.sorted.map { case (q, sum) => s"$q checksum $sum" }
            .mkString("", "\n", "\n"))
        case _ =>
      }
    }

    val e2e = Seq(
      ("setup_s", "s", setupS),
      ("op_p50_ms", "ms", Workload.p(ctx, workload.opKind, 50)),
      ("ops_per_s", "1/s", if (opSeconds > 0) ops / opSeconds else 0.0),
      ("heap_live_peak_mb", "MB", heapPeakMb))
    val extras = workload.extras(ctx, ops, opSeconds) ++ Seq(
      ("stored_bytes_per_input_byte", "ratio", storedRatio),
      ("failed_frac", "ratio", failed.toDouble / math.max(attempted, 1)))
    val layers =
      if (!traced) Nil
      else Layers.metrics(tracer, workload, ops, storage) ++
        Layers.Figures.map { case (n, u) =>
          (n, u, extras.collectFirst { case (`n`, _, v) => v }.getOrElse(0.0))
        } ++ Seq(
        ("traced.op_p50_ms", "ms", Workload.p(ctx, workload.opKind, 50)),
        ("traced.ops_per_s", "1/s", if (opSeconds > 0) ops / opSeconds else 0.0))
    if (traced) tracer.writeJsonLines(work.resolve(
      s"trace-${workload.name}-$seed.jsonl"))
    // job wall + gap = span wall holds only if every job ran inside the
    // span it was attributed to, and every job that started also ended
    val leaked = tracer.allSpans.map(_.leakedJobs).sum
    val unended = tracer.unendedJobs
    val spanCheck = !traced || (leaked == 0 && unended == 0)
    spark.stop()

    // ---- report
    def fmt(v: Double) = java.math.BigDecimal.valueOf(v).toPlainString
    def fmtPct(p: Double) = if (p == p.floor) p.toLong.toString else p.toString
    println(s"workload ${workload.name} seed $seed cores $cores traced $traced")
    println(s"setup_s ${fmt(setupS)} (session ${fmt(sessionS)} s, input " +
      s"generation ${fmt(genS)} s, prepare ${fmt(prepareS)} s) input digest $digest")
    ctx.samples.foreach { case (kind, xs) =>
      val tail = Stats.reportableTail(xs.size).map(p =>
        s", p${fmtPct(p)} ${fmt(Stats.percentile(xs.toSeq, p))} ms").getOrElse(
        " (too few samples for a tail percentile)")
      println(s"$kind: n=${xs.size} p50 ${fmt(Stats.median(xs.toSeq))} ms$tail" +
        (if (xs.size <= 20) xs.map(x => f"$x%.0f").mkString(" [", ", ", "] ms") else ""))
    }
    (e2e ++ extras).foreach { case (n, u, v) => println(s"$n ${fmt(v)} $u") }
    checks.foreach { case (n, ok) => println(s"check ${if (ok) "ok" else "FAILED"}: $n") }
    if (traced) {
      layers.foreach { case (n, u, v) => println(s"layer $n ${fmt(v)} $u") }
      println(s"span check: $spanCheck ($leaked jobs outside their span, " +
        s"$unended jobs never ended)")
    }
    val metrics = (if (traced) layers else e2e).map { case (n, u, v) =>
      n -> Json.Raw(Json.obj("value" -> v, "unit" -> u))
    }
    val correct = failed == 0 && spanCheck && ops > 0
    println("RESULT " + Json.obj("correct" -> correct,
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(metrics: _*))))
    System.out.flush()
  }
}
