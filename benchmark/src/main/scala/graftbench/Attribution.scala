package graftbench

/** Maps a Spark job to the program module that launched it, from the
  * job's long call site (one stack frame per line, innermost first).
  */
object Attribution {

  /** The modules the benchmark reports, in report order. */
  val Modules: Seq[String] = Seq(
    "etl.Pipeline", "etl.Extract", "etl.Load",
    "ops.CorpusIngest", "ops.InvertedIndex", "ops.SegmentCompaction",
    "ops.models", "queries")

  private val Direct: Set[String] = Set(
    "etl.Pipeline", "etl.Extract", "etl.Load",
    "ops.CorpusIngest", "ops.InvertedIndex", "ops.SegmentCompaction")

  /** Model and text-analysis objects reported together as `ops.models`. */
  private val Models: Set[String] = Set(
    "NaiveBayes", "Dsir", "Bpe", "Mojibake", "Analyzer", "HtmlText")

  /** The reported module of one stack frame such as
    * `graft.ops.Dsir$.score(Dsir.scala:120)`, if it belongs to one.
    */
  def moduleOfFrame(frame: String): Option[String] = {
    val f = frame.trim.stripPrefix("at ").trim
    val method = f.takeWhile(_ != '(')
    val cls = method.lastIndexOf('.') match {
      case -1 => method
      case i => method.substring(0, i)
    }
    // Foo$, Foo$$anonfun$1 and Foo$Inner all belong to Foo
    val outer = cls.takeWhile(_ != '$')
    if (!outer.startsWith("graft.")) None
    else {
      val rel = outer.stripPrefix("graft.")
      if (Direct(rel)) Some(rel)
      else if (rel.startsWith("queries.")) Some("queries")
      else if (rel.startsWith("ops.") && Models(rel.stripPrefix("ops.")))
        Some("ops.models")
      else None
    }
  }

  /** The innermost frame of `callSite` that belongs to a reported
    * module. Frames of unreported program objects (shared helpers such
    * as `ops.Relational`) are passed over, so their jobs count for the
    * module that called them.
    */
  def moduleOf(callSite: String): Option[String] =
    Option(callSite).iterator.flatMap(_.split('\n').iterator)
      .flatMap(moduleOfFrame).nextOption()
}
