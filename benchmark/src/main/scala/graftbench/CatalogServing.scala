package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, max, xxhash64}

/** A seeded sequence of serving-class catalog queries (neither
  * lifecycle nor audit, in `graft.Bench`'s terms) over fixed generated
  * tables, each forced with Bench's full-row `xxhash64` checksum. The
  * per-query cost is mostly fixed overhead: Catalyst and the driver,
  * not data volume. Read-only: no warehouse verb runs.
  */
final class CatalogServing extends Workload {
  val name = "catalog_serving"
  val opKind = "pass"
  val opModule = "queries"

  import CatalogServing._

  private var dataDir: String = _
  private var tables: Seq[(String, org.apache.spark.sql.types.StructType,
    Seq[org.apache.spark.sql.Row])] = _
  private var names: IndexedSeq[String] = _
  private var expected: Map[String, Expect] = Map.empty
  private var passes = 0
  private var dataBytes = 0L

  /** The lines of a benchmark file split on whitespace; `#` starts a
    * comment.
    */
  private def listFile(ctx: Ctx, file: String): Seq[Seq[String]] =
    Files.readAllLines(ctx.benchDir.resolve(file)).asScala.toSeq
      .map(_.takeWhile(_ != '#').trim).filter(_.nonEmpty)
      .map(_.split("\\s+").toSeq)

  def generate(ctx: Ctx): String = {
    tables = CatalogGen.tables()
    CatalogGen.digest(tables)
  }

  def prepare(ctx: Ctx): Unit = {
    dataDir = ctx.dir("catalog").toString
    CatalogGen.write(ctx.spark, dataDir, tables)
    dataBytes = Files.walk(ctx.work.resolve("catalog")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(Files.size).sum
    names = listFile(ctx, "catalog/serving_queries.txt").map(_.head).toIndexedSeq
    val exp = ctx.benchDir.resolve("catalog/expected.txt")
    if (Files.exists(exp))
      expected = listFile(ctx, "catalog/expected.txt").map {
        case Seq(q, "checksum", v) => q -> Checksum(v)
        case Seq(q, "rows", n) => q -> Rows(n.toLong)
        case other => sys.error(s"bad expected line: ${other.mkString(" ")}")
      }.toMap
    // one untimed pass warms every query's path (code generation,
    // first-use class loading); the measured passes then run warm
    names.foreach(force(ctx, _))
  }

  /** Measured passes a run makes at least. */
  override def minOps: Int = 2

  /** Runs query `q` and forces it with Bench's full-row checksum. */
  private def force(ctx: Ctx, q: String): (DataFrame, String) = {
    val out: DataFrame = graft.SparkEntry.queries(q)(ctx.spark, dataDir)
    val sum = out.agg(max(xxhash64(out.columns.toIndexedSeq.map(col): _*)))
      .collect()(0).get(0)
    (out, String.valueOf(sum))
  }

  /** One operation is a pass over every serving query, in a seeded
    * order; each query is also timed on its own.
    */
  def step(ctx: Ctx): Option[Boolean] = {
    val order = new scala.util.Random(ctx.seed * 31 + passes).shuffle(names)
    passes += 1
    val sums = ctx.timed(opKind, opModule, s"pass $passes")(
      order.map(q => q -> ctx.timed("query", opModule, q)(force(ctx, q))))
    // row counts run untimed, after the pass
    val oks = sums.map { case (q, (out, sum)) =>
      recorded(q) = sum
      val ok = expected.get(q) match {
        case Some(Checksum(v)) => v == sum
        case Some(Rows(n)) => n == out.count()
        case None => true
      }
      if (!ok) System.err.println(s"[catalog_serving] $q: checksum $sum " +
        s"differs from ${expected.get(q)}")
      ok
    }
    Some(oks.forall(identity))
  }

  /** The last checksum seen per query (for recording expectations). */
  val recorded = scala.collection.mutable.Map[String, String]()

  def finalChecks(ctx: Ctx): Seq[(String, Boolean)] = Seq(
    "every serving query has a recorded expectation" ->
      names.forall(expected.contains))

  def inputBytes(ops: Int): Double = passes.toDouble * dataBytes
  def storageRoots(ctx: Ctx): Seq[Path] = Nil
  def storedInputBytes(ops: Int): Double = 0.0

  def extras(ctx: Ctx, ops: Int, loopSeconds: Double): Seq[(String, String, Double)] = {
    val qs = ctx.samples.getOrElse("query", Nil)
    Seq(("query_p50_ms", "ms", Workload.p(ctx, "query", 50)),
      ("queries_per_s", "1/s", if (qs.nonEmpty) qs.size / (qs.sum / 1e3) else 0.0))
  }
}

object CatalogServing {
  /** How a query's output is checked: by checksum, or by row count for
    * a query whose checksum is not stable from run to run by design.
    */
  private sealed trait Expect
  private final case class Checksum(v: String) extends Expect
  private final case class Rows(n: Long) extends Expect
}
