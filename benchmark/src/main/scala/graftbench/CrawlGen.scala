package graftbench

import java.util.SplittableRandom

/** Seeded crawl stream for the corpus warehouse and its text index: a
  * bootstrap crawl, then one batch per round with in-batch duplicate
  * canonical URLs and re-crawls of URLs already seen, plus the round's
  * takedown ids and search terms.
  */
object CrawlGen {

  /** One crawled page; `text` is the page body before HTML wrapping. */
  final case class Doc(docId: Long, source: String, lang: String,
                       canonUrl: String, html: String, text: String)

  final case class Round(batch: Seq[Doc], takedown: Seq[Long],
                         searches: Seq[Seq[String]])

  final case class Sizes(bootstrapDocs: Int, batchDocs: Int,
                         takedownsPerRound: Int, searchesPerRound: Int)

  val DefaultSizes: Sizes = Sizes(bootstrapDocs = 250, batchDocs = 100,
    takedownsPerRound = 6, searchesPerRound = 4)

  val Sources: Vector[String] = Vector("A", "B", "C", "D", "E", "F")

  /** Content vocabulary of "good" (English-labelled) pages. */
  val Terms: Vector[String] = Vector("spark", "query", "merge", "index",
    "search", "table", "column", "stream", "batch", "window", "join",
    "filter", "vector", "corpus", "token", "model", "warehouse", "segment",
    "compaction", "delete", "ranking", "score", "engine", "plan", "shuffle",
    "partition", "cache", "driver", "executor", "parquet", "schema",
    "record", "latency", "throughput", "cluster", "replica", "ledger",
    "commit", "snapshot", "tombstone")
  private val Noise: Vector[String] = Vector("zork", "xult", "yarp", "qwop",
    "blef", "kraz", "vump", "trel")
  /** Mojibake sequences the repair stage maps back. */
  private val Mojibake: Vector[String] = Vector("cafÃ©", "niÃ±o", "seÃ±al")

  final class Stream(seed: Long, sizes: Sizes = DefaultSizes) {
    private val r = new SplittableRandom(seed * 0x2545F4914F6CDD1DL + 5)
    private var nextId = 0L
    private var nextUrl = 0L
    private val urls = scala.collection.mutable.ArrayBuffer[String]()
    private val ids = scala.collection.mutable.ArrayBuffer[Long]()

    private def page(): Doc = {
      val id = nextId; nextId += 1
      val source = Sources(r.nextInt(Sources.size))
      val good = r.nextDouble() < 0.75
      val words = (1 to r.nextInt(20, 60)).map { _ =>
        if (good) {
          // skewed term frequencies, so scores and df vary
          val i = math.min(Terms.size - 1,
            (-math.log(1 - r.nextDouble()) * 9).toInt)
          Terms(i)
        } else Noise(r.nextInt(Noise.size))
      }
      val text =
        (if (r.nextDouble() < 0.1) words :+ Mojibake(r.nextInt(3)) else words)
          .mkString(" ")
      // 8% of pages re-crawl a URL seen before
      val url =
        if (urls.nonEmpty && r.nextDouble() < 0.08) urls(r.nextInt(urls.size))
        else { nextUrl += 1; s"https://site$source.example/p/$nextUrl" }
      urls += url
      ids += id
      Doc(id, source, if (good) "en" else "xx", url,
        s"<html><head><title>p$id</title></head><body><p>$text</p></body></html>",
        text)
    }

    /** Pages with some canonical URLs repeated inside the batch. */
    private def batch(n: Int): Seq[Doc] = {
      val docs = scala.collection.mutable.ArrayBuffer[Doc]()
      while (docs.size < n) {
        val d = page()
        docs += d
        if (docs.size < n && r.nextDouble() < 0.1) { // in-batch duplicate
          val id = nextId; nextId += 1; ids += id
          docs += d.copy(docId = id)
        }
      }
      docs.toSeq
    }

    def bootstrap(): Seq[Doc] = batch(sizes.bootstrapDocs)

    def round(): Round = {
      val earlier = ids.toVector
      val b = batch(sizes.batchDocs)
      val takedown = (1 to sizes.takedownsPerRound)
        .map(_ => earlier(r.nextInt(earlier.size))).distinct.sorted
      val searches = (1 to sizes.searchesPerRound).map { _ =>
        (1 to r.nextInt(1, 4)).map(_ => Terms(r.nextInt(12))).distinct
      }
      Round(b, takedown, searches)
    }
  }

  /** Digest of a bootstrap crawl and the rounds after it. */
  def digest(boot: Seq[Doc], rounds: Seq[Round]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(d: Doc): Unit = md.update(
      s"${d.docId}|${d.source}|${d.lang}|${d.canonUrl}|${d.html}\n"
        .getBytes("UTF-8"))
    boot.foreach(add)
    rounds.foreach { rd =>
      rd.batch.foreach(add)
      md.update(rd.takedown.mkString("", ",", "\n").getBytes("UTF-8"))
      md.update(rd.searches.map(_.mkString(" ")).mkString("", "|", "\n")
        .getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString.take(16)
  }
}
