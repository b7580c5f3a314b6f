package graftbench

import org.scalatest.funsuite.AnyFunSuite

class AttributionSpec extends AnyFunSuite {

  private def site(frames: String*) = frames.mkString("\n")

  test("the innermost reported program frame wins") {
    val cs = site(
      "org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1521)",
      "graft.etl.Load$.$anonfun$insert$2(Load.scala:636)",
      "graft.etl.Pipeline$.run(Pipeline.scala:77)",
      "graftbench.EtlDaily.run(EtlDaily.scala:30)")
    assert(Attribution.moduleOf(cs).contains("etl.Load"))
  }

  test("unreported helpers pass the job to their caller") {
    val cs = site(
      "org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1521)",
      "graft.ops.Relational$.eager(Relational.scala:40)",
      "graft.ops.CorpusIngest$.ingest(CorpusIngest.scala:330)")
    assert(Attribution.moduleOf(cs).contains("ops.CorpusIngest"))
  }

  test("model objects are reported together") {
    Seq("NaiveBayes", "Dsir", "Bpe", "Mojibake", "Analyzer", "HtmlText")
      .foreach { m =>
        val cs = site(s"graft.ops.$m$$.score($m.scala:10)",
          "graft.ops.CorpusIngest$.ingest(CorpusIngest.scala:330)")
        assert(Attribution.moduleOf(cs).contains("ops.models"), m)
      }
  }

  test("catalog queries, inner classes and anonymous functions") {
    assert(Attribution.moduleOfFrame(
      "graft.queries.TextQueries$.$anonfun$q30$1(TextQueries.scala:88)")
      .contains("queries"))
    assert(Attribution.moduleOfFrame(
      "  at graft.ops.SegmentCompaction$PendingMerge.apply(SegmentCompaction.scala:84)")
      .contains("ops.SegmentCompaction"))
    assert(Attribution.moduleOfFrame(
      "graft.ops.InvertedIndex$$anonfun$1.apply(InvertedIndex.scala:9)")
      .contains("ops.InvertedIndex"))
  }

  test("frames outside the program, and the benchmark's own, do not count") {
    assert(Attribution.moduleOfFrame("graftbench.Main$.main(Main.scala:1)").isEmpty)
    assert(Attribution.moduleOfFrame(
      "org.apache.spark.rdd.RDD.collect(RDD.scala:1056)").isEmpty)
    assert(Attribution.moduleOf(null).isEmpty)
    assert(Attribution.moduleOf(site(
      "java.base/java.lang.Thread.run(Thread.java:840)")).isEmpty)
  }
}
