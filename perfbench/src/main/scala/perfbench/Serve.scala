package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.query.cypher.CypherParser
import graft.serve.{QueryGovernance, QueryQueue, QueryService, ResultStreamer}
import graft.storage.GraphStore

/** One request the clients send: a Cypher template instance, or a
  * view over the second tenant. `key` names the distinct
  * (template, params) pair the correctness check compares once. */
final case class Request(template: String, key: String, cypher: String,
    params: Map[String, Any], labels: Seq[String], view: Option[(String, String)])

/** What one request saw, timed from just before admission. */
final case class Reply(template: String, key: String, latencyMs: Double, firstDataMs: Double, queueWaitMs: Double,
    compileMs: Double, governUs: Double, chunks: Int, bytes: Long,
    rejected: Boolean, error: Option[String], events: Option[Seq[String]])

/** The serving path one read takes: `QueryGovernance.validate` →
  * `QueryQueue.submit` (`QueryService.execute` runs in the queue
  * worker) → `ResultStreamer.sseQueuedEvents`, drained to `done`.
  * View requests run the view function in the queue instead. */
final class ServePath(store: GraphStore, tenant: Option[GraphStore],
    queue: QueryQueue) {
  private val service = new QueryService(store)

  def send(req: Request, user: String, keepEvents: Boolean): Reply = {
    val rid = Trace.newRequestId()
    Trace.span("serve", "request:" + req.template, rid) {
      val t0 = System.nanoTime()
      val g0 = System.nanoTime()
      val verdict = Trace.span("serve", "govern") {
        if (req.view.isDefined) Right(()) else QueryGovernance.validate(req.cypher)
      }
      val governUs = (System.nanoTime() - g0) / 1e3
      if (Trace.on && req.view.isEmpty) {
        // extra calls made in the traced run only, to time these layers
        Trace.span("query", "parse")(CypherParser.parseQuery(req.cypher))
        Trace.span("storage", "resolve")(req.labels.foreach(l =>
          if (l.head.isUpper && l.exists(_.isLower)) store.node(l) else store.rel(l)))
      }
      verdict match {
        case Left(msg) =>
          rejectedReply(req, t0, governUs, msg)
        case Right(_) =>
          val submitAt = new AtomicLong(0)
          val compileStart = new AtomicLong(0)
          val compileEnd = new AtomicLong(0)
          var first = 0L
          var chunks = 0
          var bytes = 0L
          var err: Option[String] = None
          val kept = Seq.newBuilder[String]
          // the queue worker's span hangs under this one, so time spent
          // waiting here for the worker is the worker's, not the stream's
          val rejected = Trace.span("serve", "stream") {
            val (parentSpan, parentReq) = Trace.current
            submitAt.set(System.nanoTime())
            val submitted = queue.submit(user) {
              compileStart.set(System.nanoTime())
              try Trace.adopt(parentSpan, parentReq) {
                req.view match {
                  case Some(("trial_balance", period)) =>
                    val Array(a, b) = period.split("/")
                    Trace.span("views", "trial_balance")(
                      graft.views.TrialBalance(tenant.get, a, b))
                  case _ =>
                    Trace.span("query", "compile")(service.execute(req.cypher, req.params))
                }
              } finally compileEnd.set(System.nanoTime())
            }
            submitted.foreach { id =>
              ResultStreamer.sseQueuedEvents(queue, id, pollMs = 1, timeoutMs = 60000).foreach { ev =>
                if (ev.startsWith("event: data")) {
                  if (first == 0L) first = System.nanoTime()
                  chunks += 1
                  bytes += ev.length
                  if (keepEvents) kept += ev
                } else if (ev.startsWith("event: error") || ev.startsWith("event: cancelled"))
                  err = Some(ev.linesIterator.drop(1).mkString)
              }
            }
            submitted.left.toOption
          }
          rejected match {
            case Some(msg) =>
              rejectedReply(req, t0, governUs, msg)
            case None =>
              val end = System.nanoTime()
              if (first == 0L) first = end
              val qw = if (compileStart.get > 0) (compileStart.get - submitAt.get) / 1e6 else 0.0
              val cm = if (compileEnd.get > 0) (compileEnd.get - compileStart.get) / 1e6 else 0.0
              Reply(req.template, req.key, (end - t0) / 1e6, (first - t0) / 1e6,
                qw, cm, governUs, chunks, bytes, rejected = false, err,
                Option.when(keepEvents)(kept.result()))
          }
      }
    }
  }

  private def rejectedReply(req: Request, t0: Long, governUs: Double, msg: String): Reply =
    Reply(req.template, req.key, (System.nanoTime() - t0) / 1e6, 0, 0, 0, governUs, 0, 0L,
      rejected = true, Some(msg), None)
}

object Serve {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Rows of the NDJSON data events, each row its values in column order. */
  def rowsOf(events: Seq[String]): Seq[Seq[Any]] =
    events.flatMap { ev =>
      val json = ev.linesIterator.find(_.startsWith("data: ")).get.stripPrefix("data: ")
      mapper.readValue(json, classOf[java.util.List[java.util.Map[String, Object]]])
        .asScala.toSeq.map(_.values.asScala.toSeq: Seq[Any])
    }

  /** Zipf(s = 1.1) rank over `n` items. */
  final class Zipf(n: Int, r: Random) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, 1.1))
      val t = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / t).toArray
    }
    def next(): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  val Templates: Seq[String] =
    Seq("multihop", "point", "topk", "optional", "labels", "scan", "point", "multihop")

  /** Request generator of one client: a fixed template cycle (so the
    * mix is the same on every seed) with seeded parameters; every 8th
    * request goes to the second tenant when `views` is on. */
  final class Gen(tpch: Data.Tpch, seed: Long, client: Int, views: Boolean) {
    private val r = new Random(seed * 1000003L + client)
    private val ordering = tpch.customers.filter(_.key % 3 != 0).map(_.key)
    // Zipf ranks map onto a seeded permutation of the ordering customers
    private val perm = new Random(seed).shuffle(ordering)
    private val zipf = new Zipf(perm.size, r)
    private var i = client * 3

    def next(): Request = {
      i += 1
      if (views && i % 8 == 0) {
        val m0 = 1 + r.nextInt(6)
        val m1 = math.min(6, m0 + r.nextInt(3))
        val period = f"2024-$m0%02d-01/2024-$m1%02d-28"
        Request("trial_balance", s"trial_balance|$period", "", Map.empty, Nil,
          Some(("trial_balance", period)))
      } else instance(Templates(i % Templates.size))
    }

    def instance(t: String): Request = t match {
      case "multihop" =>
        val region = Data.Regions(r.nextInt(5))
        Request(t, s"$t|$region",
          """MATCH (c:Customer)-[:CUSTOMER_IN_NATION]->(n:Nation)-[:NATION_IN_REGION]->(r:Region)
            |MATCH (c)-[:CUSTOMER_PLACED_ORDER]->(o:Order)
            |WHERE r.name = $region
            |RETURN n.name AS nation, count(o) AS order_cnt, round(sum(o.totalprice), 2) AS total
            |ORDER BY nation""".stripMargin,
          Map("region" -> region),
          Seq("Customer", "Nation", "Region", "Order", "CUSTOMER_IN_NATION",
            "NATION_IN_REGION", "CUSTOMER_PLACED_ORDER"), None)
      case "point" =>
        val id = perm(zipf.next()).toString
        Request(t, s"$t|$id",
          """MATCH (c:Customer {identifier: $id})-[:CUSTOMER_PLACED_ORDER]->(o:Order)
            |RETURN o.identifier AS order_id, o.totalprice AS price
            |ORDER BY order_id""".stripMargin,
          Map("id" -> id), Seq("Customer", "Order", "CUSTOMER_PLACED_ORDER"), None)
      case "topk" =>
        val seg = Data.Segments(r.nextInt(5))
        val min = (1 + r.nextInt(8)) * 50000.0
        Request(t, s"$t|$seg|$min",
          """MATCH (c:Customer)-[:CUSTOMER_PLACED_ORDER]->(o:Order)
            |WHERE c.mktsegment = $seg AND o.totalprice >= $min
            |RETURN c.identifier AS cust, round(sum(o.totalprice), 2) AS spend
            |ORDER BY spend DESC, cust LIMIT 10""".stripMargin,
          Map("seg" -> seg, "min" -> min),
          Seq("Customer", "Order", "CUSTOMER_PLACED_ORDER"), None)
      case "optional" =>
        val nation = r.nextInt(25).toString
        Request(t, s"$t|$nation",
          """MATCH (c:Customer)-[:CUSTOMER_IN_NATION]->(n:Nation {identifier: $nation})
            |OPTIONAL MATCH (c)-[:CUSTOMER_PLACED_ORDER]->(o:Order)
            |RETURN c.identifier AS cust, count(o) AS order_cnt
            |ORDER BY cust""".stripMargin,
          Map("nation" -> nation),
          Seq("Customer", "Nation", "Order", "CUSTOMER_IN_NATION",
            "CUSTOMER_PLACED_ORDER"), None)
      case "labels" =>
        Request(t, t,
          "MATCH (n) RETURN label(n) AS label, count(n) AS cnt ORDER BY label",
          Map.empty, Seq("Customer", "Nation", "Region", "Order", "Supplier"), None)
      case "scan" =>
        val prio = Data.Priorities(r.nextInt(5))
        Request(t, s"$t|$prio",
          """MATCH (o:Order) WHERE o.priority = $prio
            |RETURN o.identifier AS order_id, o.totalprice AS price""".stripMargin,
          Map("prio" -> prio), Seq("Order"), None)
    }
  }
}
