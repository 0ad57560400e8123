package perfbench

import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Generates the `catalog` workload's tables: the star schema plus the
  * `events`, `documents` and `embeddings` tables that the query catalog
  * reads through `graft.Tables`, with the same column names and types.
  *
  * The data seed is fixed, so the expected result digests committed under
  * `perfbench/expected/` hold for every run; the run seed only shuffles
  * the order in which the queries run.
  */
object CatalogData {

  val DataSeed = 20240101L

  private def r2(x: Double): Double = math.round(x * 100.0) / 100.0

  /** One parquet file per table, like the sf test data. */
  private def write(spark: SparkSession, dir: String, name: String, schema: StructType,
                    rows: Seq[Row]): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/$name.parquet")

  private def f(name: String, t: DataType) = StructField(name, t)

  /** Writes every table under `dir`; `sf` scales the row counts the way the
    * TPC-H scale factor does (sf 0.01 → 60k lineitem rows). */
  def generate(spark: SparkSession, dir: String, sf: Double): Unit = {
    val rnd = new SplittableRandom(DataSeed)
    val nCust = (150000 * sf).toInt
    val nSupp = math.max(10, (10000 * sf).toInt)
    val nPart = (200000 * sf).toInt
    val nOrders = (1500000 * sf).toInt
    val nLines = 4 * nOrders
    val nEvents = (1000000 * sf).toInt
    val nDocs = (50000 * sf).toInt
    val nVecs = math.max(500, (20000 * sf).toInt)

    write(spark, dir, "region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (n, i) => Row(i, n) })
    write(spark, dir, "nation",
      StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType), f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write(spark, dir, "customer",
      StructType(Seq(f("c_custkey", LongType), f("c_name", StringType), f("c_nationkey", IntegerType),
        f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
        r2(-999.99 + rnd.nextDouble() * 10999.98), segments(rnd.nextInt(5)))))
    write(spark, dir, "supplier",
      StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType), f("s_nationkey", IntegerType),
        f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rnd.nextInt(25),
        r2(-999.99 + rnd.nextDouble() * 10999.98))))

    val adjectives = Array("blue", "new", "hot", "red", "small", "big", "old", "green")
    val nouns = Array("anvil", "bolt", "ring", "rod", "plate", "widget", "gear", "spring")
    val types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    write(spark, dir, "part",
      StructType(Seq(f("p_partkey", LongType), f("p_name", StringType), f("p_brand", StringType),
        f("p_type", StringType), f("p_size", IntegerType), f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong,
        adjectives(rnd.nextInt(8)) + " " + nouns(rnd.nextInt(8)), s"Brand#${1 + rnd.nextInt(25)}",
        types(rnd.nextInt(6)), 1 + rnd.nextInt(50), 900.0 + (i % 1000) / 10.0)))

    val orderEpoch = LocalDate.parse("1995-01-01")
    val orderDays = 2403 // through 2001-08-01
    val statuses = Array("F", "O", "P")
    val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    write(spark, dir, "orders",
      StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType), f("o_orderstatus", StringType),
        f("o_totalprice", DoubleType), f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      (0 until nOrders).map(i => Row(i.toLong, rnd.nextInt(nCust).toLong, statuses(rnd.nextInt(3)),
        r2(1000.0 + rnd.nextDouble() * 499000.0),
        orderEpoch.plusDays(rnd.nextInt(orderDays).toLong).atStartOfDay(),
        priorities(rnd.nextInt(5)))))

    val returnFlags = Array("A", "N", "R")
    val lineStatuses = Array("F", "O")
    write(spark, dir, "lineitem",
      StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType), f("l_suppkey", LongType),
        f("l_linenumber", IntegerType), f("l_quantity", DoubleType), f("l_extendedprice", DoubleType),
        f("l_discount", DoubleType), f("l_tax", DoubleType), f("l_returnflag", StringType),
        f("l_linestatus", StringType), f("l_shipdate", TimestampNTZType))),
      (0 until nLines).map { _ =>
        val qty = (1 + rnd.nextInt(50)).toDouble
        Row(rnd.nextInt(nOrders).toLong, rnd.nextInt(nPart).toLong, rnd.nextInt(nSupp).toLong,
          1 + rnd.nextInt(7), qty, r2(qty * (900.0 + rnd.nextDouble() * 1200.0)),
          rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0, returnFlags(rnd.nextInt(3)),
          lineStatuses(rnd.nextInt(2)),
          LocalDate.parse("1995-01-02").plusDays(rnd.nextInt(2498).toLong).atStartOfDay())
      })

    val eventStart = LocalDateTime.parse("2024-01-01T00:00:00")
    val spanMicros = 30L * 24 * 3600 * 1000000L
    val eventTypes = Array("click", "error", "purchase", "signup", "view")
    write(spark, dir, "events",
      StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType), f("user_id", LongType),
        f("event_type", StringType), f("value", DoubleType), f("props", StringType))),
      (0 until nEvents).map { i =>
        val micros = i * (spanMicros / nEvents) + rnd.nextLong(spanMicros / nEvents)
        Row(i.toLong, eventStart.plusNanos(micros * 1000L), rnd.nextInt(1500).toLong,
          eventTypes(rnd.nextInt(5)), r2(-50.0 * math.log(1.0 - rnd.nextDouble() * 0.9999)),
          s"""{"k": ${rnd.nextInt(100)}}""")
      })

    val words = Array("join", "hash", "row", "batch", "scan", "customer", "column", "filter",
      "small", "slow", "merge", "order", "vector", "line", "table", "data", "agg", "value", "key",
      "stream", "window", "spark", "a", "group", "part", "big", "sort", "query", "fast", "the")
    val langs = Array("en", "en", "de", "es", "fr", "zh", "en")
    val texts = new Array[String](nDocs)
    write(spark, dir, "documents",
      StructType(Seq(f("doc_id", LongType), f("text", StringType), f("lang", StringType),
        f("source", StringType), f("n_chars", LongType))),
      (0 until nDocs).map { i =>
        // ~5 % near-duplicates of an earlier document, for the dedup queries
        val t =
          if (i > 10 && rnd.nextInt(20) == 0) texts(rnd.nextInt(i)) + " dup"
          else Iterator.fill(10 + rnd.nextInt(90))(words(rnd.nextInt(words.length))).mkString(" ")
        texts(i) = t
        Row(i.toLong, t, langs(rnd.nextInt(langs.length)), s"src${i % 20}", t.length.toLong)
      })

    val centers = Array.fill(10, 64)(rnd.nextGaussian() * 0.08)
    write(spark, dir, "embeddings",
      StructType(Seq(f("vec_id", LongType), f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      (0 until nVecs).map { i =>
        val label = rnd.nextInt(10)
        Row(i.toLong, centers(label).map(c => (c + rnd.nextGaussian() * 0.06).toFloat).toSeq, label)
      })
  }
}
