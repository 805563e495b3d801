package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded relational inputs for the gate workloads: the ten tables the
  * program's `graft.Tables` reads, with the same columns, types and value
  * domains as the star-schema fixtures the gates were written against.
  * Row counts scale with `sf` (lineitem = 6M * sf). Timestamps are
  * written zone-less (TIMESTAMP_NTZ), the layout those fixtures use.
  */
object TableGen {
  private val Words = Vector("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  /** Writes every table under `dir` (`<dir>/<table>.parquet`); returns
    * the total row count.
    */
  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Long = {
    def rnd(salt: Int) = new SplittableRandom(seed * 7919L + salt)
    def n(base: Int) = math.max(1, math.round(base * sf).toInt)
    // tables are generated on this thread and written concurrently
    val writes = scala.collection.mutable.ArrayBuffer[(Thread, Int)]()
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      val t = new Thread(() => spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet"))
      t.start()
      writes += ((t, rows.size))
    }
    def f(name: String, t: DataType) = StructField(name, t)

    val regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    save("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      regions.indices.map(i => Row(i, regions(i))))
    save("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val nCust = n(150000)
    val segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    locally {
      val r = rnd(1)
      save("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
        (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
          money(r, -999.99, 9999.99), segments(r.nextInt(5)))))
    }
    val nSupp = n(10000)
    locally {
      val r = rnd(2)
      save("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
        (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
          money(r, -999.99, 9999.99))))
    }
    val nPart = n(200000)
    val adjectives = Vector("blue", "old", "small", "new", "hot", "large", "cold", "red")
    val nouns = Vector("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")
    val types = Vector("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
    locally {
      val r = rnd(3)
      save("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
        f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
        f("p_retailprice", DoubleType))),
        (0 until nPart).map(i => Row(i.toLong,
          adjectives(r.nextInt(8)) + " " + nouns(r.nextInt(8)), s"Brand#${1 + r.nextInt(25)}",
          types(r.nextInt(6)), 1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)))
    }
    val nOrd = n(1500000)
    val d0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    locally {
      val r = rnd(4)
      val status = Vector("F", "O", "P")
      val prio = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      save("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
        (0 until nOrd).map(i => Row(i.toLong, r.nextInt(nCust).toLong, status(r.nextInt(3)),
          money(r, 1000.0, 500000.0), d0.plusDays(r.nextInt(2404)), prio(r.nextInt(5)))))
    }
    locally {
      val r = rnd(5)
      val flags = Vector("A", "N", "R")
      val status = Vector("O", "F")
      save("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
        f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType),
        f("l_shipdate", TimestampNTZType))),
        (0 until n(6000000)).map { _ =>
          val q = 1 + r.nextInt(50)
          Row(r.nextInt(nOrd).toLong, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong,
            1 + r.nextInt(7), q.toDouble, money(r, 900.0 * q, 2100.0 * q),
            r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, flags(r.nextInt(3)),
            status(r.nextInt(2)), d0.plusDays(1 + r.nextInt(2500)))
        })
    }
    locally {
      val r = rnd(6)
      val kinds = Vector("view", "click", "purchase", "signup", "error")
      val users = math.max(10, n(15000))
      var t = 0L
      save("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
        f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
        f("props", StringType))),
        (0 until n(1000000)).map { i =>
          t += 1 + r.nextInt(518400000)
          Row(i.toLong, LocalDateTime.of(2024, 1, 1, 0, 0).plusNanos(t * 1000L),
            r.nextInt(users).toLong, kinds(r.nextInt(5)), money(r, 0.01, 490.0),
            s"""{"k": ${r.nextInt(100)}}""")
        })
    }
    locally {
      val r = rnd(7)
      val langs = Vector("en", "en", "en", "zh", "de", "fr", "es")
      val texts = scala.collection.mutable.ArrayBuffer[String]()
      val docs = (0 until 500).map { i =>
        // every tenth document is a one-word edit of an earlier one, so
        // the near-duplicate operators have pairs to find
        val text =
          if (i >= 10 && i % 10 == 0) {
            val w = texts(r.nextInt(texts.size)).split(' ')
            w(r.nextInt(w.length)) = "dup"
            w.mkString(" ")
          } else Vector.fill(10 + r.nextInt(90))(Words(r.nextInt(Words.size))).mkString(" ")
        texts += text
        Row(i.toLong, text, langs(r.nextInt(langs.size)), s"src${i % 20}", text.length.toLong)
      }
      save("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
        f("lang", StringType), f("source", StringType), f("n_chars", LongType))), docs)
    }
    locally {
      val r = rnd(8)
      save("embeddings", StructType(Seq(f("vec_id", LongType),
        f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
        (0 until 500).map { i =>
          val v = Array.fill(64)(r.nextDouble() * 2 - 1)
          val norm = math.sqrt(v.map(x => x * x).sum)
          Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
        })
    }
    writes.foreach(_._1.join())
    writes.map(_._2.toLong).sum
  }
}
