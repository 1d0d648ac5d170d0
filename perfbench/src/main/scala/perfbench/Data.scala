package perfbench

import java.io.File
import java.sql.Timestamp
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Seeded inputs. The TPC-H-shaped tables carry the testdata's column
  * names and types, so `graft.sources.TpchGraph` reads them as is; the
  * same seed writes the same rows. */
object Data {

  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Statuses = Seq("F", "O", "P")

  final case class Customer(key: Long, name: String, nation: Int,
      acctbal: Double, segment: String)
  final case class Order(key: Long, cust: Long, status: String,
      price: Double, date: Timestamp, priority: String)
  final case class Tpch(dir: File, customers: Seq[Customer], orders: Seq[Order])

  private def money(r: Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  /** `nCust` customers (every third places no orders, as in TPC-H),
    * 15 orders per ordering customer, `nCust / 15` suppliers. */
  def tpch(spark: SparkSession, dir: File, seed: Long, nCust: Int): Tpch = {
    import spark.implicits._
    val r = new Random(seed)
    val customers = (1 to nCust).map { k =>
      Customer(k.toLong, f"Customer#$k%09d", r.nextInt(25),
        money(r, -999.99, 9999.99), Segments(r.nextInt(Segments.size)))
    }
    val ordering = customers.filter(_.key % 3 != 0)
    val day0 = Timestamp.valueOf("1992-01-01 00:00:00").getTime
    val orders = (1 to ordering.size * 15).map { k =>
      val c = ordering(r.nextInt(ordering.size))
      Order(k.toLong, c.key, Statuses(r.nextInt(3)), money(r, 900.0, 450000.0),
        new Timestamp(day0 + r.nextInt(2400).toLong * 86400000L),
        Priorities(r.nextInt(5)))
    }
    val suppliers = (1 to math.max(5, nCust / 15)).map { k =>
      (k.toLong, f"Supplier#$k%09d", r.nextInt(25), money(r, -999.99, 9999.99))
    }
    def write(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.coalesce(1).write.parquet(new File(dir, s"$name.parquet").toString)
    write(Regions.zipWithIndex.map { case (n, i) => (i, n) }
      .toDF("r_regionkey", "r_name"), "region")
    write((0 until 25).map(i => (i, f"NATION$i%02d", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"), "nation")
    write(customers.map(c => (c.key, c.name, c.nation, c.acctbal, c.segment))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
      "customer")
    write(suppliers.toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"), "supplier")
    write(orders.map(o => (o.key, o.cust, o.status, o.price, o.date, o.priority))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"), "orders")
    Tpch(dir, customers, orders)
  }

  /** One crawl document: id, text, embedding. */
  final case class Doc(id: Long, text: String, vec: Array[Float])

  /** A fixed schedule of `nBatches` micro-batches of `batchSize` docs.
    * Every doc draws 24 words from a 4000-word vocabulary (distinct
    * docs share almost no word bigrams). A seeded tenth of the docs
    * copy an earlier doc's text exactly, a tenth copy it with one word
    * appended (bigram Jaccard ~0.96), and a tenth carry twice an
    * earlier doc's embedding (cosine 1): the near-dup rate is fixed,
    * the seed picks which docs and which targets. */
  def crawl(seed: Long, nBatches: Int, batchSize: Int, dim: Int): Seq[Seq[Doc]] = {
    val r = new Random(seed)
    def words(n: Int) = Seq.fill(n)(s"w${r.nextInt(4000)}").mkString(" ")
    def vec() = Array.fill(dim)(r.nextGaussian().toFloat)
    val docs = scala.collection.mutable.ArrayBuffer.empty[Doc]
    (0 until nBatches * batchSize).foreach { i =>
      val id = 1000L + i
      val roll = r.nextInt(10)
      val target = if (docs.nonEmpty) Some(docs(r.nextInt(docs.size))) else None
      docs += ((roll, target) match {
        case (0, Some(t)) => Doc(id, t.text, vec())
        case (1, Some(t)) => Doc(id, t.text + " " + words(1), vec())
        case (2, Some(t)) => Doc(id, words(24), t.vec.map(_ * 2.0f))
        case _ => Doc(id, words(24), vec())
      })
    }
    docs.toSeq.grouped(batchSize).toSeq
  }
}
