package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Random, Try}

import graft.fixtures.AccountingFixture
import graft.serve.{QueryGovernance, QueryQueue, QueryService}
import graft.storage.GraphStore
import Support._

/** One writer op as timed. */
final case class WriteRec(kind: String, latencyMs: Double, rows: Long, error: Option[String])

/** The single writer of `write_mix` and the replay model of what its
  * successful ops must leave in the subgraph. */
final class Writer(ctx: Ctx, store: GraphStore, raw: Data.Tpch) {
  private val service = new QueryService(store)
  private val r = new Random(ctx.seed * 7 + 1)
  val recs = new ConcurrentLinkedQueue[WriteRec]()

  // model: identifier -> props, as the subgraph must hold them
  val customers: mutable.Map[String, (String, Double, String, String)] = mutable.Map.from(
    raw.customers.map(c => c.key.toString -> (c.name, c.acctbal, c.segment, "bulk")))
  val orders: mutable.Map[String, (String, Double, String)] = mutable.Map.from(
    raw.orders.map(o => o.key.toString -> (o.status, o.price, o.priority)))
  val placed: mutable.Map[String, (String, Double)] = mutable.Map.from(
    raw.orders.map(o => o.key.toString -> (o.cust.toString, o.price)))
  private val victims = new Random(ctx.seed).shuffle(raw.orders.map(_.key.toString)).iterator
  private var i = 0
  private var staged = List.empty[String]

  /** The fixed op cycle. `set_literal` is the literal-predicate SET the
    * reference's callers emit; it fails today because
    * `QueryGovernance.classify` reads it as a Read (see the README), and
    * it stays in the mix so that defect shows in the error rate. */
  val Kinds = Seq("merge", "set_param", "delete_param", "create", "set_literal",
    "delete_literal", "staging")

  private def money() = math.round(r.nextDouble() * 900000) / 100.0
  private def anyCustomer() = raw.customers(r.nextInt(raw.customers.size)).key.toString

  private def cypher(text: String, params: Map[String, Any]): Long =
    service.execute(text, params).collect().length.toLong

  /** Run the next op of the fixed kind cycle. */
  def next(): Unit = {
    i += 1
    val kind = Kinds(i % Kinds.size)
    val t0 = System.nanoTime()
    val res = Try(Trace.span("serve", s"write:$kind", Trace.newRequestId())(op(kind)))
    recs.add(WriteRec(kind, (System.nanoTime() - t0) / 1e6, res.getOrElse(0L),
      res.failed.toOption.map(e => String.valueOf(e.getMessage).take(300))))
  }

  private def op(kind: String): Long = kind match {
    case "merge" =>
      val id = s"9${100000 + i}"
      val (name, bal, seg) = (s"Merged#$i", money(), Data.Segments(r.nextInt(5)))
      val n = cypher(
        "MERGE (c:Customer {identifier: $id}) SET c.name = $name, c.acctbal = $bal, c.mktsegment = $seg",
        Map("id" -> id, "name" -> name, "bal" -> bal, "seg" -> seg))
      customers(id) = (name, bal, seg, customers.get(id).map(_._4).orNull)
      n
    case "set_param" | "set_literal" =>
      val (id, bal) = (anyCustomer(), money())
      val n =
        if (kind == "set_param")
          cypher("MATCH (c:Customer {identifier: $id}) SET c.acctbal = $bal",
            Map("id" -> id, "bal" -> bal))
        else cypher(s"MATCH (c:Customer) WHERE c.identifier = '$id' SET c.acctbal = $bal", Map.empty)
      customers.get(id).foreach(c => customers(id) = c.copy(_2 = bal))
      n
    case "delete_param" | "delete_literal" =>
      val id = victims.next()
      val n =
        if (kind == "delete_param")
          cypher("MATCH (o:Order {identifier: $id}) DETACH DELETE o", Map("id" -> id))
        else cypher(s"MATCH (o:Order) WHERE o.identifier = '$id' DETACH DELETE o", Map.empty)
      orders.remove(id); placed.remove(id)
      n
    case "create" =>
      val (cid, oid, p) = (anyCustomer(), s"8${100000 + i}", money())
      val n = cypher(
        """MATCH (c:Customer {identifier: $cid})
          |CREATE (c)-[:CUSTOMER_PLACED_ORDER {price: $p}]->(o:Order {identifier: $oid, status: 'O', totalprice: $p, priority: '3-MEDIUM'})""".stripMargin,
        Map("cid" -> cid, "oid" -> oid, "p" -> p))
      orders(oid) = ("O", p, "3-MEDIUM"); placed(oid) = (cid, p)
      n
    case "staging" => stage()
  }

  /** A staged file of 20 new customers, then un-ingest the file of the
    * previous staging op. */
  def stage(): Long = {
    import ctx.spark.implicits._
    val fid = s"f$i"
    val rows = (0 until 20).map(j => (s"7${100000 + i * 100 + j}", s"Staged#$i-$j", money(),
      Data.Segments(r.nextInt(5))))
    val path = new File(ctx.work, s"staging/$fid.parquet").toString
    rows.toDF("identifier", "name", "acctbal", "mktsegment").coalesce(1).write.parquet(path)
    val n = Trace.span("storage", "ingestNodeFiles")(store.ingestNodeFiles("Customer", Seq(path -> fid)))
    rows.foreach { case (id, name, bal, seg) => customers(id) = (name, bal, seg, fid) }
    staged = staged :+ fid
    if (staged.size > 1) {
      val old = staged.head
      staged = staged.tail
      Trace.span("storage", "deleteFileData")(store.deleteFileData("Customer", old))
      customers.filterInPlace { case (_, c) => c._4 != old }
    }
    n
  }

  /** Mismatches between the subgraph and the replayed model. */
  def check(): Seq[String] = {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq)
    val got = Seq(
      "Customer" -> rows(store.node("Customer").select("identifier", "name", "acctbal", "mktsegment")),
      "Order" -> rows(store.node("Order").select("identifier", "status", "totalprice", "priority")),
      "CUSTOMER_PLACED_ORDER" -> rows(store.rel("CUSTOMER_PLACED_ORDER").select("dst", "src", "price")))
    val want = Map(
      "Customer" -> customers.toSeq.map { case (k, c) => Seq(k, c._1, c._2, c._3) },
      "Order" -> orders.toSeq.map { case (k, o) => Seq(k, o._1, o._2, o._3) },
      "CUSTOMER_PLACED_ORDER" -> placed.toSeq.map { case (k, p) => Seq(k, p._1, p._2) })
    got.collect { case (t, g) if !Oracle.sameRows(g, want(t)) =>
      s"MISMATCH $t: subgraph has ${g.size} rows, replay ${want(t).size}"
    }
  }

  def all: Seq[WriteRec] = recs.asScala.toSeq
}

/** `write_mix`: three closed-loop read clients run the `serve_read`
  * templates against a subgraph forked from the main graph while one
  * writer runs Cypher MERGE / SET / DETACH DELETE / MATCH…CREATE
  * through `QueryService` and, every seventh op, a staging batch
  * (`ingestNodeFiles`, then `deleteFileData` of an older file). */
object WriteMix extends Workload {
  import Reads._

  override def ownPerLayer: Seq[(String, String)] = Seq(
    "serve.literal_set_failed" -> "count", "storage.bytes_written_per_op" -> "B",
    "spark.jobs_per_write" -> "count", "spark.tasks_per_write" -> "count",
    "write_p50_ms" -> "ms", "write_p95_ms" -> "ms", "ingest_rows_per_s" -> "1/s")

  def run(ctx: Ctx): Outcome = {
    val nCust = if (ctx.smoke) 60 else 1500
    val raw = Data.tpch(ctx.spark, new File(ctx.work, "raw"), ctx.seed, nCust)
    // a small untimed load through the same ingest path first, as in serve_read
    AccountingFixture.ingest(ctx.spark, new File(ctx.work, "tenant").toString, "warm")
    val (setupS, main) = setups(ctx, raw)
    val sub0 = main.fork(main.graphId + "_bench")
    // readers take no lock: keep enough generations that a read spanning
    // several writer commits still finds its files
    val sub = new GraphStore(ctx.spark, sub0.root, sub0.graphId, sub0.schema,
      retainGenerations = 16)
    phase("setup")
    val queue = new QueryQueue()
    try {
      val path = new ServePath(sub, None, queue)
      val readers = math.max(1, math.min(3, ctx.cpus - 1))
      val gens = (0 until readers).map(c => new Serve.Gen(raw, ctx.seed, c, views = false))
      val writer = new Writer(ctx, sub, raw)
      warmUp(path, gens)
      // the writer's warm-up: one staging op, so the window's staging op
      // has an older file to delete
      writer.stage()
      phase("warm-up")
      // one full op cycle per window
      val writes = writer.Kinds.size * math.max(1, ctx.seconds / 15)
      val nw0 = writer.all.size
      val w = window(ctx, path, gens, keep = false, writes, () => writer.next())
      val wrecs = writer.all.drop(nw0)
      val (tw, report) = Loop.traced(ctx, ctx.traced) {
        if (ctx.traced) {
          val n0 = writer.all.size
          val t = window(ctx, path, gens, keep = false, writes, () => writer.next())
          Some((t, writer.all.drop(n0)))
        } else None
      }
      phase("windows")
      val mismatches = writer.check()
      phase("check")
      val lat = w.ok.map(_.latencyMs)
      val wlat = wrecs.filter(_.error.isEmpty).map(_.latencyMs)
      val failed = w.all.count(r => r.rejected || r.error.nonEmpty) + wrecs.count(_.error.nonEmpty)
      val attempted = w.all.size + wrecs.size
      val amp = Loop.spaceAmp(sub, new File(ctx.work, "once"))
      val e2e = Map(
        "setup_s" -> median(setupS), "ops_per_s" -> w.ok.size / w.wallS,
        "op_mean_ms" -> mean(lat),
        "first_result_mean_ms" -> mean(w.ok.map(_.firstDataMs)),
        "secondary_mean_ms" -> mean(wlat), "space_amp" -> amp,
        "peak_rss_mb" -> peakRssMb)
      val layer = report.map { r =>
        val (t, tws) = tw.get
        val twl = tws.filter(_.error.isEmpty)
        val staged = tws.filter(x => x.kind == "staging" && x.error.isEmpty)
        val tFailed = t.all.count(x => x.rejected || x.error.nonEmpty) + tws.count(_.error.nonEmpty)
        val wr = r.sparkPer("write")
        Loop.common(r, t.ok.size, mean(lat), mean(t.ok.map(_.latencyMs)), "request") ++
          serveLayer(t) ++ readFigures(t) ++ Map(
            "write_p50_ms" -> median(twl.map(_.latencyMs)),
            "write_p95_ms" -> pct(twl.map(_.latencyMs), 0.95),
            "ingest_rows_per_s" -> staged.map(_.rows).sum / math.max(1e-9, staged.map(_.latencyMs).sum / 1e3),
            "storage.bytes_written_per_op" -> wr("out_bytes"),
            "spark.jobs_per_write" -> wr("jobs"), "spark.tasks_per_write" -> wr("tasks"),
            "serve.error_rate" -> tFailed.toDouble / (t.all.size + tws.size),
            "serve.literal_set_failed" -> tws.count(x => x.kind == "set_literal" && x.error.nonEmpty).toDouble,
            "query.parse_ms" -> r.meanMs("query", "parse"),
            "storage.resolve_ms" -> r.meanMs("storage", "resolve"),
            "storage.files_live" -> Loop.filesLive(sub))
      }.getOrElse(Map.empty)
      val byKind = wrecs.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, xs) =>
        f"$k ${median(xs.map(_.latencyMs))}%.0f ms x${xs.size}" }
      val errs = w.all.flatMap(r => r.error.map(e => s"read error ${r.key}: ${e.take(200)}")) ++
        wrecs.flatMap(x => x.error.map(e => s"write error ${x.kind}: ${e.take(200)}"))
      val classified = QueryGovernance.classify(
        "MATCH (c:Customer) WHERE c.identifier = '7' SET c.acctbal = 1.0")
      val info = Seq(
        f"setup_s reps: ${setupS.map(s => f"$s%.2f").mkString(" ")}",
        f"read_qps ${w.ok.size / w.wallS}%.2f (n=${w.ok.size} in ${w.wallS}%.1f s)",
        describe("read latency", lat),
        describe("first_chunk", w.ok.map(_.firstDataMs)),
        describe("write latency", wlat),
        s"writes by kind: ${byKind.mkString(", ")}",
        f"error_rate ${failed.toDouble / math.max(1, attempted)}%.4f ($failed of $attempted)",
        s"known defect: literal-predicate SET classified as $classified; " +
          s"${wrecs.count(x => x.kind == "set_literal" && x.error.nonEmpty)} of " +
          s"${wrecs.count(_.kind == "set_literal")} set_literal ops failed",
        s"replay check: ${mismatches.size} mismatching tables") ++
        report.map(r => s"trace: ${r.totalJobs} spark jobs, ${r.unattributedJobs} unattributed").toSeq ++
        errs.take(5) ++ mismatches
      Outcome(mismatches.isEmpty, attempted.toLong, failed.toLong, e2e, layer, info)
    } finally queue.shutdown()
  }
}
