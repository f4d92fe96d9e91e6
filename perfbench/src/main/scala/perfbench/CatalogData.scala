package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

/** The catalog's input tables (the TPC-H-like star schema plus events,
  * documents and embeddings), generated here so the benchmark needs no data
  * outside its checkout. Every field is a pure function of (table, row id,
  * field) through a fixed-seed hash, so the tables are identical however
  * Spark partitions the generation, and the expected output digests hold
  * for every run. Row counts scale with `sf` like the reference layout
  * (sf 0.1: 15,000 customers, 150,000 orders, ~600,000 lineitems). */
object CatalogData {
  /** fixed: the expected digests are recorded for these exact tables */
  val Seed = 20261017L

  private def mix(x: Long): Long = {
    var h = x
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }
  /** uniform in [0, 1) */
  def u(table: Int, id: Long, field: Int): Double =
    (mix(Seed * 0x9e3779b97f4a7c15L + table * 0xc2b2ae3d27d4eb4fL + id * 0x165667b19e3779f9L
      + field) >>> 11).toDouble / (1L << 53).toDouble
  private def pick(table: Int, id: Long, field: Int, n: Long): Long =
    math.min(n - 1, (u(table, id, field) * n).toLong)
  private def cents(table: Int, id: Long, field: Int, lo: Double, hi: Double): Double =
    math.round((lo + u(table, id, field) * (hi - lo)) * 100.0) / 100.0

  final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
  final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
                            c_acctbal: Double, c_mktsegment: String)
  final case class Supplier(s_suppkey: Long, s_name: String, s_nationkey: Int,
                            s_acctbal: Double)
  final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                         o_totalprice: Double, o_orderdate: Timestamp, o_orderpriority: String)
  final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
                            l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
                            l_discount: Double, l_tax: Double, l_returnflag: String,
                            l_linestatus: String, l_shipdate: Timestamp)
  final case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String,
                         value: Double, props: String)
  final case class Document(doc_id: Long, text: String, lang: String, source: String,
                            n_chars: Long)
  final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("click", "view", "purchase", "signup", "error")
  private val Langs = Array("en", "en", "en", "en", "de", "es", "fr", "zh", "en")
  private val Words = ("agg batch big column customer data fast filter group hash join key " +
    "line merge order part query row scan slow small sort spark stream table value vector " +
    "window a the").split(" ")
  private val DayMs = 86400L * 1000L
  private val Day0 = java.time.LocalDate.of(1995, 1, 1).toEpochDay
  /** midnight UTC, whatever the JVM's time zone */
  private def day(epochDay: Long): Timestamp = new Timestamp(epochDay * DayMs)
  private val Events0 = java.time.LocalDate.of(2024, 1, 1).toEpochDay * DayMs

  /** Documents: 10-99 words; every 20th is a near-duplicate of an earlier
    * document with " dup" appended, every 500th an exact copy. */
  private def docText(id: Long): String = {
    if (id > 0 && id % 500 == 499) docText(pick(7, id, 1, id))
    else if (id > 0 && id % 20 == 19) docText(pick(7, id, 2, id)) + " dup"
    else {
      val n = 10 + pick(7, id, 3, 90).toInt
      (0 until n).map(k => Words(pick(7, id, 100 + k, Words.length).toInt)).mkString(" ")
    }
  }

  /** Writes the eight tables the catalog reads, as parquet, under `dir`. */
  def write(spark: SparkSession, dir: String, sf: Double): Unit = {
    import spark.implicits._
    val cpus = spark.sparkContext.defaultParallelism
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    def ids(count: Long): Dataset[Long] =
      spark.range(0, count, 1, math.max(1, math.min(cpus * 4, (count / 20000).toInt)))
        .as[Long]
    def save(name: String, ds: Dataset[_]): Unit =
      ds.write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val nCust = n(150000); val nSupp = n(10000); val nOrders = n(1500000)
    val nParts = n(200000); val nUsers = n(15000)
    save("nation", spark.range(25).as[Long].map(i =>
      Nation(i.toInt, s"NATION_$i", (i % 5).toInt)))
    save("customer", ids(nCust).map(i => Customer(i, f"Customer#$i%09d",
      pick(1, i, 1, 25).toInt, cents(1, i, 2, -999.99, 9999.99),
      Segments(pick(1, i, 3, Segments.length).toInt))))
    save("supplier", ids(nSupp).map(i => Supplier(i, f"Supplier#$i%09d",
      pick(2, i, 1, 25).toInt, cents(2, i, 2, -999.99, 9999.99))))
    save("orders", ids(nOrders).map(i => Order(i, pick(3, i, 1, nCust),
      "OFP".substring(pick(3, i, 2, 3).toInt).take(1), cents(3, i, 3, 1000.0, 500000.0),
      day(Day0 + pick(3, i, 4, 2403)), Priorities(pick(3, i, 5, Priorities.length).toInt))))
    // 1-7 lines per order, numbered 1..k as in TPC-H: (order, line) is unique
    save("lineitem", ids(nOrders).flatMap { o =>
      (1 to 1 + pick(4, o, 0, 7).toInt).map { ln =>
        val id = o * 8 + ln
        val qty = (1 + pick(4, id, 1, 50)).toDouble
        LineItem(o, pick(4, id, 2, nParts), pick(4, id, 3, nSupp), ln, qty,
          math.round(cents(4, id, 4, 900.0, 2100.0) * qty * 100.0) / 100.0,
          pick(4, id, 5, 11) / 100.0,
          pick(4, id, 6, 9) / 100.0, "ANR".substring(pick(4, id, 7, 3).toInt).take(1),
          "OF".substring(pick(4, id, 8, 2).toInt).take(1), day(Day0 + 1 + pick(4, id, 9, 2500)))
      }
    })
    // events: ~26 s apart on average over 30 days at sf 0.1, ts increasing with id
    val gapMs = 30L * DayMs / n(1000000)
    save("events", ids(n(1000000)).map(i => Event(i,
      new Timestamp(Events0 + i * gapMs + (u(5, i, 1) * gapMs).toLong), pick(5, i, 2, nUsers),
      EventTypes(pick(5, i, 3, EventTypes.length).toInt), cents(5, i, 4, 0.01, 500.0),
      s"""{"k": ${pick(5, i, 5, 100)}}""")))
    save("documents", ids(n(50000)).map { i =>
      val text = docText(i)
      Document(i, text, Langs(pick(6, i, 1, Langs.length).toInt), s"src${i % 20}",
        text.length.toLong)
    })
    // embeddings: unit vectors from 64 Box-Muller normals (StrictMath: the
    // same floats on every JVM)
    save("embeddings", ids(n(20000)).map { i =>
      val v = Array.tabulate(64) { k =>
        val a = math.max(1e-12, u(8, i, 2 * k)); val b = u(8, i, 2 * k + 1)
        StrictMath.sqrt(-2.0 * StrictMath.log(a)) * StrictMath.cos(2.0 * math.Pi * b)
      }
      val norm = StrictMath.sqrt(v.map(x => x * x).sum)
      Embedding(i, v.map(x => (x / norm).toFloat), pick(8, i, 200, 10).toInt)
    })
  }
}
