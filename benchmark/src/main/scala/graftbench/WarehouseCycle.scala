package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.ops.{CorpusIngest, InvertedIndex}

/** One corpus warehouse and one text index fed a seeded stream of
  * rounds, with searches served between the writes on the same
  * generation trees. A round: ingest a crawl batch, append the admitted
  * documents to the index, run a batch of searches, take down a set of
  * ids from both, then the index's maintenance compaction.
  */
final class WarehouseCycle extends Workload {
  val name = "warehouse_cycle"
  val opKind = "round"
  val opModule = "ops.InvertedIndex"

  /** Rounds generated up front; a run stops early if it uses them up. */
  val MaxRounds = 40
  /** Every this many rounds the index also gets a full compaction
    * check (`compactIfNeeded`); the other rounds run `tieredCompact`.
    */
  val FullCompactEvery = 4
  val TopK = 10

  private var boot: Seq[CrawlGen.Doc] = _
  private var rounds: IndexedSeq[CrawlGen.Round] = _
  private var corpusDir, indexDir: String = _
  private var next = 1
  private val indexed = mutable.Map[Long, String]() // doc id -> text
  private val deleted = mutable.Set[Long]()
  private var crawlBytes = 0L

  private val CrawlSchema = StructType(Seq("doc_id" -> LongType,
    "source" -> StringType, "lang" -> StringType, "canon_url" -> StringType,
    "html" -> StringType).map { case (n, t) => StructField(n, t) })
  private val TextSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))

  private def frame(ctx: Ctx, schema: StructType, rows: Seq[Row]): DataFrame =
    ctx.spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)

  private def crawl(ctx: Ctx, docs: Seq[CrawlGen.Doc]): DataFrame =
    frame(ctx, CrawlSchema,
      docs.map(d => Row(d.docId, d.source, d.lang, d.canonUrl, d.html)))

  private def ids(ctx: Ctx, xs: Seq[Long]): DataFrame =
    frame(ctx, StructType(Seq(StructField("doc_id", LongType))), xs.map(Row(_)))

  def generate(ctx: Ctx): String = {
    val s = new CrawlGen.Stream(ctx.seed)
    boot = s.bootstrap()
    rounds = (1 to MaxRounds).map(_ => s.round())
    CrawlGen.digest(boot, rounds)
  }

  /** Ids the corpus admitted in `batch`, with their text. */
  private def admitted(ctx: Ctx, batch: Long,
                       docs: Seq[CrawlGen.Doc]): Seq[(Long, String)] = {
    val ids = CorpusIngest.read(ctx.spark, corpusDir)
      .filter(col("batch") === batch).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    docs.filter(d => ids(d.docId)).map(d => d.docId -> d.text)
  }

  private def textFrame(ctx: Ctx, docs: Seq[(Long, String)]): DataFrame =
    frame(ctx, TextSchema, docs.map { case (i, t) => Row(i, t) })

  /** The first round can run cold (its first ingest costs up to twice
    * a warm one), so a run measures at least two; the nearest-rank
    * median of two is the faster one.
    */
  override def minOps: Int = 2

  def prepare(ctx: Ctx): Unit = {
    corpusDir = ctx.work.resolve("warehouse/corpus").toString
    indexDir = ctx.work.resolve("warehouse/index").toString
    CorpusIngest.bootstrap(ctx.spark, crawl(ctx, boot), corpusDir,
      nbLabel = col("lang") === "en", nbSplit = col("doc_id") % 3 =!= 0,
      dsirTarget = col("lang") === "en", selectPct = 50)
    val docs0 = admitted(ctx, 0L, boot)
    InvertedIndex.build(ctx.spark, textFrame(ctx, docs0), indexDir)
    indexed ++= docs0
    crawlBytes = boot.map(_.html.length.toLong).sum
  }

  def step(ctx: Ctx): Option[Boolean] =
    if (next > rounds.size) None
    else {
      val b = next.toLong
      val rd = rounds(next - 1)
      next += 1
      Some(ctx.timed(opKind, opModule, s"round $b")(round(ctx, b, rd)))
    }

  private def round(ctx: Ctx, b: Long, rd: CrawlGen.Round): Boolean = {
    val s = ctx.spark
    var ok = ctx.timed("ingest", "ops.CorpusIngest")(
      CorpusIngest.ingest(s, crawl(ctx, rd.batch), corpusDir, b))
    crawlBytes += rd.batch.map(_.html.length.toLong).sum
    ok &= ctx.timed("index_append", "ops.InvertedIndex") {
      val docs = admitted(ctx, b, rd.batch)
      indexed ++= docs
      InvertedIndex.addBatch(s, textFrame(ctx, docs), indexDir, b)
    }
    rd.searches.foreach { terms =>
      val hits = ctx.timed("search", "ops.InvertedIndex")(
        InvertedIndex.search(s, indexDir, terms, TopK).collect())
      ok &= hits.length <= TopK
    }
    val victims = rd.takedown.filterNot(deleted)
    val nc = ctx.timed("delete", "ops.CorpusIngest", "corpus delete")(
      CorpusIngest.delete(s, corpusDir, ids(ctx, rd.takedown)))
    val ni = ctx.timed("delete", "ops.InvertedIndex", "index delete")(
      InvertedIndex.delete(s, indexDir, ids(ctx, rd.takedown)))
    // the index holds exactly the ids the corpus admitted, so both must
    // delete exactly the not-yet-deleted victims among them
    val expectIndex = victims.count(indexed.contains).toLong
    ok &= ni == expectIndex && nc == expectIndex
    deleted ++= victims
    ctx.timed("compact", "ops.InvertedIndex") {
      if (b % FullCompactEvery == 0) InvertedIndex.compactIfNeeded(s, indexDir, 3)
      else InvertedIndex.tieredCompact(s, indexDir)
    }
    ok
  }

  def finalChecks(ctx: Ctx): Seq[(String, Boolean)] = {
    val s = ctx.spark
    val done = rounds.take(next - 1)
    val all = done.flatMap(_.takedown).distinct
    val replays = CorpusIngest.delete(s, corpusDir, ids(ctx, all)) == 0L &&
      InvertedIndex.delete(s, indexDir, ids(ctx, all)) == 0L
    // an index rebuilt from scratch over the surviving documents must
    // serve bit-identical results
    val rebuilt = ctx.work.resolve("warehouse/rebuilt").toString
    InvertedIndex.build(s, textFrame(ctx,
      indexed.toSeq.filterNot(d => deleted(d._1)).sortBy(_._1)), rebuilt)
    val queries = done.flatMap(_.searches).distinct.take(2)
    def serve(dir: String, t: Seq[String]): Seq[Seq[Any]] =
      InvertedIndex.search(s, dir, t, TopK).collect().toSeq.map(_.toSeq)
    val same = queries.forall(t => serve(indexDir, t) == serve(rebuilt, t))
    val corpusLive = CorpusIngest.read(s, corpusDir).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    Seq(
      "replayed takedowns delete nothing" -> replays,
      "searches equal an index rebuilt over the surviving docs" -> same,
      "no taken-down doc is served by the corpus" ->
        corpusLive.intersect(deleted).isEmpty)
  }

  def inputBytes(ops: Int): Double =
    rounds.take(ops).map(_.batch.map(_.html.length.toLong).sum).sum.toDouble
  def storageRoots(ctx: Ctx): Seq[Path] =
    Seq(ctx.work.resolve("warehouse/corpus"), ctx.work.resolve("warehouse/index"))
  def storedInputBytes(ops: Int): Double = crawlBytes.toDouble

  def extras(ctx: Ctx, ops: Int, loopSeconds: Double): Seq[(String, String, Double)] =
    Seq("ingest", "index_append", "delete", "compact", "search")
      .map(k => (s"${k}_p50_ms", "ms", Workload.p(ctx, k, 50)))
}
