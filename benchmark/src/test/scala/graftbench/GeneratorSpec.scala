package graftbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class GeneratorSpec extends AnyFunSuite {

  private val small = EtlGen.Sizes(students = 500, courses = 20,
    historyDays = 5, enrollmentsPerDay = 40, paymentsPerDay = 60)

  private def sheets(seed: Long): (EtlGen.Inputs, Map[String, Seq[Byte]]) = {
    val dir = Files.createTempDirectory("etlgen")
    val in = EtlGen.generate(seed, dir, small)
    (in, EtlGen.Sheets.map(s =>
      s -> Files.readAllBytes(dir.resolve(s)).toSeq).toMap)
  }

  test("the same seed gives byte-identical sheets and expectations") {
    val (a, fa) = sheets(7L)
    val (b, fb) = sheets(7L)
    assert(fa == fb)
    assert(a.digest == b.digest)
    assert(a.expected == b.expected)
    val (c, fc) = sheets(8L)
    assert(c.digest != a.digest && fc != fa)
  }

  test("expected summaries are plausible for every day") {
    val (in, _) = sheets(3L)
    assert(in.days.size == 5)
    in.days.foreach { d =>
      val e = in.expected(d)
      assert(e.cursos == 20 && e.estudiantes == 500)
      assert(e.matriculas > 0 && e.matriculas <= 40 && e.pagos > 0)
    }
    // dirty rows drop out: fewer valid enrollments than enrollment codes
    assert(in.days.map(in.expected(_).matriculas).sum < 5 * 40)
  }

  test("crawl streams and catalog tables are deterministic") {
    def stream(seed: Long) = {
      val s = new CrawlGen.Stream(seed)
      CrawlGen.digest(s.bootstrap(), (1 to 3).map(_ => s.round()))
    }
    assert(stream(5L) == stream(5L))
    assert(stream(5L) != stream(6L))
    val s = new CrawlGen.Stream(5L)
    val boot = s.bootstrap()
    val r1 = s.round()
    // ids are fresh and increasing; takedowns name earlier documents
    assert(r1.batch.map(_.docId).min > boot.map(_.docId).max)
    assert(r1.takedown.forall(_ <= boot.map(_.docId).max))
    // some canonical URLs repeat (in-batch duplicates or re-crawls)
    val urls = (boot ++ r1.batch).map(_.canonUrl)
    assert(urls.distinct.size < urls.size)
    assert(CatalogGen.digest(CatalogGen.tables()) ==
      CatalogGen.digest(CatalogGen.tables()))
  }
}
