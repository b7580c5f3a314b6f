package graftbench

import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The catalog's input tables (TESTDATA.md: a TPC-H-like star schema,
  * an `events` stream, `documents` and `embeddings`) at scale factor
  * 0.001, with the column names, types and value shapes the catalog
  * queries read.
  *
  * The tables are FIXED: they do not depend on the workload seed, so
  * each query's checksum can be compared with the recorded expected
  * file. The workload seed chooses the query sequence instead.
  */
object CatalogGen {

  val TableSeed = 20261017L

  private val Vocab = Vector("key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "spark", "a", "the",
    "line", "sort", "window", "order", "data", "column", "join", "small",
    "customer", "query", "big", "stream", "filter", "group", "vector")

  private def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  /** (table name, schema, rows) for every table, in a fixed order. */
  def tables(): Seq[(String, StructType, Seq[Row])] = {
    val r = new SplittableRandom(TableSeed)
    def money(lo: Double, hi: Double): Double =
      math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    val day0 = LocalDate.of(1995, 1, 1)
    val region = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (n, i) => Row(i, n) }
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val segments = Vector("FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD",
      "AUTOMOBILE")
    val customer = (0 until 150).map(i => Row(i.toLong, f"Customer#$i%09d",
      r.nextInt(25), money(-999, 9999), segments(r.nextInt(5))))
    val supplier = (0 until 10).map(i => Row(i.toLong, f"Supplier#$i%09d",
      r.nextInt(25), money(0, 9999)))
    val adjectives = Vector("small", "large", "red", "blue", "cold", "hot",
      "green", "shiny", "heavy", "light")
    val nouns = Vector("widget", "bolt", "rod", "ring", "gear", "valve")
    val types = Vector("ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD",
      "SMALL")
    val part = (0 until 200).map(i => Row(i.toLong,
      s"${adjectives(r.nextInt(10))} ${nouns(r.nextInt(6))}",
      s"Brand#${r.nextInt(1, 26)}", types(r.nextInt(6)), r.nextInt(1, 51),
      900.0 + i / 10.0))
    val statuses = Vector("F", "O", "P")
    val priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM",
      "4-NOT SPECIFIED", "5-LOW")
    val orders = (0 until 1500).map(i => Row(i.toLong,
      r.nextInt(150).toLong, statuses(r.nextInt(3)), money(1300, 500000),
      (day0.plusDays(r.nextInt(2400).toLong).atStartOfDay()),
      priorities(r.nextInt(5))))
    val lineitem = (0 until 6000).map { _ =>
      val q = r.nextInt(1, 51).toDouble
      Row(r.nextInt(1500).toLong, r.nextInt(200).toLong, r.nextInt(10).toLong,
        r.nextInt(1, 8), q, math.round(q * (900 + r.nextDouble() * 1200) * 100) / 100.0,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        Vector("A", "N", "R")(r.nextInt(3)), Vector("O", "F")(r.nextInt(2)),
        (day0.plusDays(r.nextInt(1, 2500).toLong).atStartOfDay()))
    }
    val eventTypes = Vector("error", "signup", "purchase", "view", "click")
    var ts = LocalDateTime.of(2024, 1, 1, 0, 0)
    val events = (0 until 1000).map { i =>
      ts = ts.plusNanos((r.nextDouble() * 2 * 2592.0 * 1e9).toLong / 1000 * 1000)
      Row(i.toLong, ts, r.nextInt(15).toLong, eventTypes(r.nextInt(5)),
        math.round(-math.log(1 - r.nextDouble()) * 5000) / 100.0 + 0.01,
        s"""{"k": ${r.nextInt(100)}}""")
    }
    val langs = Vector("en", "en", "es", "zh", "de", "fr")
    val documents = (0 until 500).map { i =>
      val text = (1 to r.nextInt(8, 80)).map(_ => Vocab(r.nextInt(Vocab.size)))
        .mkString(" ")
      Row(i.toLong, text, langs(r.nextInt(langs.size)), s"src${i % 20}",
        text.length.toLong)
    }
    val centers = (0 until 10).map(_ =>
      Array.fill(64)(r.nextDouble() * 2 - 1))
    val embeddings = (0 until 500).map { i =>
      val label = r.nextInt(10)
      val v = centers(label).map(c => c + (r.nextDouble() - 0.5) * 0.8)
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }
    Seq(
      ("region", schema("r_regionkey" -> IntegerType, "r_name" -> StringType),
        region),
      ("nation", schema("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType), nation),
      ("customer", schema("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType), customer),
      ("supplier", schema("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType), supplier),
      ("part", schema("p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType,
        "p_size" -> IntegerType, "p_retailprice" -> DoubleType), part),
      ("orders", schema("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
        orders),
      ("lineitem", schema("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampNTZType), lineitem),
      ("events", schema("event_id" -> LongType, "ts" -> TimestampNTZType,
        "user_id" -> LongType, "event_type" -> StringType,
        "value" -> DoubleType, "props" -> StringType), events),
      ("documents", schema("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType,
        "n_chars" -> LongType), documents),
      ("embeddings", schema("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType, containsNull = true),
        "label" -> IntegerType), embeddings))
  }

  /** Digest of the generated rows (independent of parquet encoding). */
  def digest(ts: Seq[(String, StructType, Seq[Row])]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    ts.foreach { case (name, _, rows) =>
      md.update(name.getBytes("UTF-8"))
      rows.foreach(row => md.update(row.toSeq.map {
        case s: Seq[_] => s.mkString("[", ",", "]")
        case v => String.valueOf(v)
      }.mkString("\u0001", "\u0002", "\n").getBytes("UTF-8")))
    }
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** Writes every table as `<dir>/<name>.parquet` (one file each). */
  def write(spark: SparkSession, dir: String,
            ts: Seq[(String, StructType, Seq[Row])]): Long = {
    ts.foreach { case (name, sch, rows) =>
      spark.createDataFrame(
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, sch)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    ts.map(_._3.size.toLong).sum
  }
}
