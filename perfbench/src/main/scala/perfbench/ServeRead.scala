package perfbench

import java.io.File
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import graft.fixtures.AccountingFixture
import graft.serve.QueryQueue
import graft.sources.TpchGraph
import graft.storage.GraphStore
import Support._

/** Shared by the two serving workloads: the persisted TPC-H graph, the
  * read clients, their checks and figures. */
object Reads {
  def graphId(seed: Long): String = f"kg${seed & 0xffffffffL}%016x"

  /** Bulk-load the raw tables into a fresh persisted graph. */
  def build(ctx: Ctx, raw: Data.Tpch, root: File): GraphStore = {
    val src = new TpchGraph(ctx.spark, raw.dir.toString)
    val store = new GraphStore(ctx.spark, root.toString, graphId(ctx.seed), src.schema)
    src.schema.nodes.foreach(n => store.ingestNodes(n.name, src.node(n.name), Some("bulk")))
    src.schema.rels.foreach(r => store.ingestRels(r.name,
      src.rel(r.name).withColumnsRenamed(Map("src" -> "from", "dst" -> "to")), Some("bulk")))
    store
  }

  /** The set-up timed by `setup_s`: bulk-load the graph three times into
    * separate roots (once in smoke mode); returns the seconds of each
    * and the last store (the others are deleted). Callers load something
    * small through the same ingest path first, so no rep pays the JVM's
    * first-use costs alone. */
  def setups(ctx: Ctx, raw: Data.Tpch): (Seq[Double], GraphStore) = {
    val reps = if (ctx.smoke) 1 else 3
    val runs = (1 to reps).map { i =>
      val root = new File(ctx.work, s"store$i")
      val t0 = System.nanoTime()
      val st = build(ctx, raw, root)
      if (i < reps) rmTree(root)
      ((System.nanoTime() - t0) / 1e9, st)
    }
    (runs.map(_._1), runs.last._2)
  }

  /** Replies of one window plus the first reply's events per key. */
  final class Window {
    val replies = new ConcurrentLinkedQueue[Reply]()
    val firstOf = new ConcurrentHashMap[String, Request]()
    var wallS = 0.0
    def all: Seq[Reply] = replies.asScala.toSeq
    def ok: Seq[Reply] = all.filter(r => !r.rejected && r.error.isEmpty)
  }

  /** Requests per client in one window: whole template cycles, one
    * per 15 s of `--seconds` (so every window sends the same mix), or
    * two requests in smoke mode. */
  def perClient(ctx: Ctx): Int =
    if (ctx.smoke) 2 else Serve.Templates.size * math.max(1, ctx.seconds / 15)

  /** One window of closed-loop read clients (client c uses generator c),
    * beside a writer client making `writes` calls of `write` when given. */
  def window(ctx: Ctx, path: ServePath, gens: IndexedSeq[Serve.Gen], keep: Boolean,
      writes: Int = 0, write: () => Unit = () => ()): Window = {
    val w = new Window
    val counts = Seq.fill(gens.size)(perClient(ctx)) ++ (if (writes > 0) Seq(writes) else Nil)
    w.wallS = Loop.closed(counts) { c =>
      if (c == gens.size) write()
      else {
        val req = gens(c).next()
        val first = keep && w.firstOf.putIfAbsent(req.key, req) == null
        w.replies.add(path.send(req, s"user$c", first))
      }
    }
    w
  }

  /** Untimed warm-up: two requests per client reach every template and
    * the view once (the clients start at different points of the cycle). */
  def warmUp(path: ServePath, gens: IndexedSeq[Serve.Gen]): Unit =
    Loop.closed(Seq.fill(gens.size)(2))(c => path.send(gens(c).next(), s"user$c", false)): Unit

  /** Compare every kept (template, params) result against the oracle;
    * returns the number of mismatching keys (with one line each). */
  def check(ctx: Ctx, raw: Data.Tpch, tenant: Option[GraphStore], ws: Seq[Window]): Seq[String] = {
    val oracle = new Oracle.Raw(ctx.spark, raw.dir)
    lazy val ledger = tenant.map(new Oracle.Ledger(_)).get
    val tbCache = scala.collection.mutable.Map.empty[String, Seq[Seq[Any]]]
    ws.flatMap(_.all).filter(r => r.events.isDefined && r.error.isEmpty).groupBy(_.key).toSeq
      .flatMap { case (key, rs) =>
      val req = ws.flatMap(w => Option(w.firstOf.get(key))).head
      val got = Serve.rowsOf(rs.head.events.get)
      val (g, want) = req.view match {
        case Some((_, period)) =>
          (Oracle.trialBalanceCols(got),
            tbCache.getOrElseUpdate(period, ledger.trialBalance(period)))
        case None => (got, oracle.answer(req))
      }
      if (Oracle.sameRows(g, want)) None
      else Some(s"MISMATCH $key: got ${g.size} rows, want ${want.size} " +
        s"(first got ${g.take(2)}, first want ${want.take(2)})")
    }
  }

  def readFigures(w: Window, prefix: String = "read"): Map[String, Double] = {
    val lat = w.ok.map(_.latencyMs)
    Map(s"${prefix}_qps" -> w.ok.size / w.wallS, s"${prefix}_p50_ms" -> median(lat),
      s"${prefix}_p95_ms" -> pct(lat, 0.95))
  }

  def describe(label: String, xs: Seq[Double]): String = {
    val (p, v) = highPct(xs)
    f"$label: mean=${mean(xs)}%.1f ms p50=${median(xs)}%.1f ms $p=$v%.1f ms n=${xs.size}"
  }

  /** Serve-layer figures of a traced window. */
  def serveLayer(w: Window): Map[String, Double] = {
    val cy = w.ok.filter(_.template != "trial_balance")
    val scans = w.ok.filter(_.template == "scan")
    val tb = w.ok.filter(_.template == "trial_balance")
    Map(
      "serve.govern_us" -> mean(cy.map(_.governUs)),
      "serve.queue_wait_ms" -> mean(w.ok.map(_.queueWaitMs)),
      "serve.compile_ms" -> mean(cy.map(_.compileMs)),
      "serve.rejected" -> w.all.count(_.rejected).toDouble,
      "serve.first_data_ms" -> mean(scans.map(_.firstDataMs)),
      "serve.drain_ms" -> mean(scans.map(r => r.latencyMs - r.firstDataMs)),
      "serve.ndjson_bytes" -> mean(scans.map(_.bytes.toDouble)),
      "serve.chunks" -> mean(scans.map(_.chunks.toDouble)),
      "views.trial_balance_ms" -> mean(tb.map(_.latencyMs)))
  }
}

/** `serve_read`: four closed-loop clients send seeded Cypher reads to a
  * persisted TPC-H graph; one request in eight goes to the accounting
  * tenant's trial balance. No writes, no indexes. */
object ServeRead extends Workload {
  import Reads._

  def run(ctx: Ctx): Outcome = {
    val nCust = if (ctx.smoke) 60 else 1500
    // the second tenant loads once, untimed, beside the input generation
    // and before the timed set-up
    val tenantLoad = Future(AccountingFixture.ingest(ctx.spark,
      new File(ctx.work, "tenant").toString, Reads.graphId(ctx.seed) + "acct"))(ExecutionContext.global)
    val raw = Data.tpch(ctx.spark, new File(ctx.work, "raw"), ctx.seed, nCust)
    val tenant = Some(Await.result(tenantLoad, Duration.Inf))
    val (setupS, store) = setups(ctx, raw)
    phase("setup")
    val queue = new QueryQueue()
    try {
      val path = new ServePath(store, tenant, queue)
      val clients = math.min(4, ctx.cpus)
      val gens = (0 until clients).map(c => new Serve.Gen(raw, ctx.seed, c, views = true))
      warmUp(path, gens)
      phase("warm-up")
      val w = window(ctx, path, gens, keep = true)
      // traced run: an untraced baseline window, then the traced one, so
      // the overhead compares two warm windows
      val base = if (ctx.traced) Some(window(ctx, path, gens, keep = true)) else None
      val (tw, report) = Loop.traced(ctx, ctx.traced) {
        if (ctx.traced) Some(window(ctx, path, gens, keep = true))
        else None
      }
      phase("windows")
      val mismatches = check(ctx, raw, tenant, Seq(w) ++ base ++ tw)
      phase("check")
      val lat = w.ok.map(_.latencyMs)
      val views = w.ok.filter(_.template == "trial_balance").map(_.latencyMs)
      val failed = w.all.count(r => r.rejected || r.error.nonEmpty)
      // serve_read sends only reads the program answers: a failed or
      // rejected request in any window fails the run (its key would go
      // unchecked and its latency would drop out of the figures)
      val failedAll = (Seq(w) ++ base ++ tw).map(_.all.count(r => r.rejected || r.error.nonEmpty)).sum
      val amp = Loop.spaceAmp(store, new File(ctx.work, "once"))
      phase("space")
      val e2e = Map(
        "setup_s" -> median(setupS), "ops_per_s" -> w.ok.size / w.wallS,
        "op_mean_ms" -> mean(lat),
        "first_result_mean_ms" -> mean(w.ok.map(_.firstDataMs)),
        "secondary_mean_ms" -> mean(views), "space_amp" -> amp,
        "peak_rss_mb" -> peakRssMb)
      val layer = report.map { r =>
        val t = tw.get
        val tlat = t.ok.map(_.latencyMs)
        Loop.common(r, t.ok.size, mean(base.get.ok.map(_.latencyMs)), mean(tlat), "request") ++
          serveLayer(t) ++
          readFigures(t) ++ Map(
            "serve.error_rate" -> t.all.count(x => x.rejected || x.error.nonEmpty).toDouble / t.all.size,
            "query.parse_ms" -> r.meanMs("query", "parse"),
            "storage.resolve_ms" -> r.meanMs("storage", "resolve"),
            "storage.files_live" -> Loop.filesLive(store))
      }.getOrElse(Map.empty)
      val errs = (Seq(w) ++ base ++ tw).flatMap(_.all).flatMap(r =>
        r.error.map(e => s"${if (r.rejected) "rejected" else "error"} ${r.key}: ${e.take(300)}"))
      val info = Seq(
        f"setup_s reps: ${setupS.map(s => f"$s%.2f").mkString(" ")}",
        f"read_qps ${w.ok.size / w.wallS}%.2f (n=${w.ok.size} in ${w.wallS}%.1f s)",
        describe("read latency", lat),
        describe("first_chunk", w.ok.map(_.firstDataMs)),
        describe("trial_balance", views),
        "by template: " + w.ok.groupBy(_.template).toSeq.sortBy(_._1).map { case (t, rs) =>
          f"$t ${median(rs.map(_.latencyMs))}%.0f ms x${rs.size}" }.mkString(", "),
        f"error_rate ${failed.toDouble / math.max(1, w.all.size)}%.4f ($failedAll failed in all windows)",
        s"checked ${(Seq(w) ++ base ++ tw).flatMap(_.all).filter(r => r.events.isDefined && r.error.isEmpty).map(_.key).distinct.size} " +
          s"distinct (template, params) results, ${mismatches.size} mismatches") ++
        report.map(r => s"trace: ${r.totalJobs} spark jobs, ${r.unattributedJobs} unattributed").toSeq ++
        errs.take(5) ++ mismatches.take(10)
      Outcome(mismatches.isEmpty && failedAll == 0, w.all.size.toLong, failed.toLong, e2e, layer, info)
    } finally queue.shutdown()
  }
}
