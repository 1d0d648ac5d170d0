package perfbench

import java.io.File

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.storage.GraphStore

/** Independent answers for the correctness checks: plain Scala
  * collections over rows read straight from the raw parquet (or, for
  * the fixture tenant, straight from the store's tables), never
  * through the Cypher or view code under test. */
object Oracle {

  /** The TPC-H tables as collected rows. */
  final class Raw(spark: SparkSession, dir: File) {
    private def rows(name: String): Array[Row] =
      spark.read.parquet(new File(dir, s"$name.parquet").toString).collect()
    val regions: Map[Int, String] = rows("region").map(r => r.getInt(0) -> r.getString(1)).toMap
    val nations: Map[Int, (String, Int)] =
      rows("nation").map(r => r.getInt(0) -> (r.getString(1), r.getInt(2))).toMap
    val customers: Seq[Data.Customer] = rows("customer").toSeq.map(r =>
      Data.Customer(r.getLong(0), r.getString(1), r.getInt(2), r.getDouble(3), r.getString(4)))
    val orders: Seq[Data.Order] = rows("orders").toSeq.map(r =>
      Data.Order(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
        r.getTimestamp(4), r.getString(5)))
    val nSuppliers: Long = rows("supplier").length.toLong
    private val byCust = orders.groupBy(_.cust)
    private def r2(x: Double) = BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

    /** Expected rows of one template instance, values in column order. */
    def answer(req: Request): Seq[Seq[Any]] = req.template match {
      case "multihop" =>
        val region = req.params("region")
        customers.filter(c => regions(nations(c.nation)._2) == region)
          .flatMap(c => byCust.getOrElse(c.key, Nil).map(o => nations(c.nation)._1 -> o.price))
          .groupBy(_._1).toSeq
          .map { case (n, xs) => Seq(n, xs.size.toDouble, r2(xs.map(_._2).sum)) }
      case "point" =>
        byCust.getOrElse(req.params("id").toString.toLong, Nil)
          .map(o => Seq(o.key.toString, o.price))
      case "topk" =>
        val seg = req.params("seg")
        val min = req.params("min").asInstanceOf[Double]
        customers.filter(_.segment == seg).flatMap { c =>
          val xs = byCust.getOrElse(c.key, Nil).filter(_.price >= min)
          if (xs.isEmpty) None else Some((c.key.toString, r2(xs.map(_.price).sum)))
        }.sortBy(x => (-x._2, x._1)).take(10).map(x => Seq(x._1, x._2))
      case "optional" =>
        val n = req.params("nation").toString.toInt
        customers.filter(_.nation == n)
          .map(c => Seq(c.key.toString, byCust.getOrElse(c.key, Nil).size.toDouble))
      case "labels" =>
        Seq(Seq("Customer", customers.size.toDouble), Seq("Nation", nations.size.toDouble),
          Seq("Order", orders.size.toDouble), Seq("Region", regions.size.toDouble),
          Seq("Supplier", nSuppliers.toDouble))
      case "scan" =>
        orders.filter(_.priority == req.params("prio")).map(o => Seq(o.key.toString, o.price))
    }
  }

  /** The accounting tenant's tables, collected once from its store. */
  final class Ledger(acct: GraphStore) {
    private def pairs(t: String) = acct.rel(t).select("src", "dst").collect()
      .map(r => r.getString(0) -> r.getString(1))
    private val txnDate = acct.node("Transaction").select("identifier", "date").collect()
      .map(r => r.getString(0) -> r.getDate(1)).toMap
    private val amounts = acct.node("LineItem")
      .select(col("identifier"), col("debit_amount"), col("credit_amount")).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    private val elemOf = pairs("LINE_ITEM_RELATES_TO_ELEMENT").toMap
    private val entityTxns = pairs("ENTITY_HAS_TRANSACTION").map(_._2).toSet
    private val txnItems = pairs("TRANSACTION_HAS_LINE_ITEM")

    /** (element_id, total_debits, total_credits, net_balance) over the
      * line items of transactions dated inside `period` ("a/b"). */
    def trialBalance(period: String): Seq[Seq[Any]] = {
      val Array(a, b) = period.split("/")
      val (lo, hi) = (java.sql.Date.valueOf(a), java.sql.Date.valueOf(b))
      txnItems
        .filter { case (t, _) =>
          val d = txnDate(t)
          entityTxns(t) && !d.before(lo) && !d.after(hi)
        }
        .flatMap { case (_, li) => elemOf.get(li).map(e => e -> amounts(li)) }
        .groupBy(_._1).toSeq.map { case (e, xs) =>
          val d = xs.map(_._2._1).sum
          val c = xs.map(_._2._2).sum
          Seq(e, d, c, d - c)
        }
    }
  }

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: java.lang.Number, y: java.lang.Number) =>
      val (u, v) = (x.doubleValue, y.doubleValue)
      // 0.011: both sides round to cents, from sums added in different orders
      math.abs(u - v) <= 0.011 + 1e-9 * math.abs(v)
    case _ => a == b
  }

  /** Equal as sets of rows keyed by their first column (a unique key
    * in every checked result), numbers compared to the cent. */
  def sameRows(got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Boolean = {
    val g = got.map(r => String.valueOf(r.head) -> r).toMap
    val w = want.map(r => String.valueOf(r.head) -> r).toMap
    g.size == got.size && w.size == want.size && g.keySet == w.keySet &&
      w.forall { case (k, wr) =>
        val gr = g(k)
        gr.size == wr.size && gr.zip(wr).forall { case (a, b) => same(a, b) }
      }
  }

  /** Rows of a trial-balance reply reduced to the oracle's columns. */
  def trialBalanceCols(rows: Seq[Seq[Any]]): Seq[Seq[Any]] =
    rows.map(r => Seq(r(0), r(6), r(7), r(8)))
}
