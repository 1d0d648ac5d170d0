package perfbench

object Loop {

  /** Closed loop: client `c` calls `op(c)` back to back `counts(c)`
    * times, each client on its own thread. Returns the wall seconds
    * until the last op ended. */
  def closed(counts: Seq[Int])(op: Int => Unit): Double = {
    val t0 = System.nanoTime()
    val threads = counts.zipWithIndex.map { case (n, c) =>
      new Thread(() => (1 to n).foreach(_ => op(c)), s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Run `body` untraced, or traced with the Spark listeners registered
    * for its duration; the traced form also returns the layer report. */
  def traced[T](ctx: Ctx, on: Boolean)(body: => T): (T, Option[Report]) =
    if (!on) (body, None)
    else {
      val (l, p) = Trace.start(ctx.spark)
      val t0 = System.nanoTime()
      val r = try body finally Trace.stop(ctx.spark, l, p)
      val (all, jobs) = Trace.withJobs(Trace.spans, l)
      Trace.writeSpans(new java.io.File(ctx.out, s"spans-seed${ctx.seed}.jsonl"), all, t0)
      (r, Some(new Report(all, jobs, l, p)))
    }

  /** Layer figures of one traced window. A request is a top-level span;
    * its kind is the span name up to the first ':' ("request", "write",
    * "batch"). */
  final class Report(all: Seq[Span], jobs: Map[Long, Trace.Job],
      l: Trace.Listener, p: Trace.PlanListener) {
    private val top = all.filter(s => s.parent == 0L && s.layer != "spark")
    private val kindOf = top.map(s => s.req -> s.name.takeWhile(_ != ':')).toMap
    private val jobSpans = all.filter(_.layer == "spark")
    private def nOf(kind: String) = math.max(1, top.count(s => kindOf(s.req) == kind))

    def selfPerOp(nOps: Int): Map[String, Double] =
      Trace.selfTimeMs(all).map { case (layer, ms) =>
        s"$layer.self_ms_per_op" -> ms / math.max(1, nOps) }

    /** Jobs, stages, tasks, shuffle and output bytes per request of `kind`. */
    def sparkPer(kind: String): Map[String, Double] = {
      val js = jobSpans.filter(j => kindOf.get(j.req).contains(kind)).map(j => jobs(j.id))
      val st = js.flatMap(_.stageIds).flatMap(s => Option(l.stages.get(s)))
      val n = nOf(kind).toDouble
      Map("jobs" -> js.size / n, "stages" -> st.size / n,
        "tasks" -> st.map(_.tasks.toLong).sum / n,
        "shuffle_bytes" -> st.map(_.shuffleBytes).sum / n,
        "out_bytes" -> st.map(_.outBytes).sum / n)
    }

    /** Mean over requests of `kind` of (wall − union of their jobs). */
    def driverGapMs(kind: String): Double = {
      val byReq = jobSpans.groupBy(_.req)
      Support.mean(top.filter(s => kindOf(s.req) == kind).map { s =>
        val iv = byReq.getOrElse(s.req, Nil).map(j => (math.max(j.start, s.start), math.min(j.end, s.end)))
          .filter(x => x._2 > x._1)
        (s.end - s.start - Trace.unionNs(iv)) / 1e6
      })
    }

    /** Mean Spark planning ms (parse+analysis+optimization+planning) per
      * request, from the query-execution listener. */
    def planMsPerOp(nOps: Int): Double = p.planNs.get / 1e6 / math.max(1, nOps)

    def meanMs(layer: String, name: String): Double =
      Support.mean(all.filter(s => s.layer == layer && s.name == name).map(s => (s.end - s.start) / 1e6))

    def unattributedJobs: Int = jobSpans.count(_.parent == 0L)
    def totalJobs: Int = jobSpans.size
  }

  /** The layer figures every traced workload reports the same way.
    * `untracedMs`/`tracedMs` are the mean op latencies of an untraced
    * window and of the traced window right after it. */
  def common(r: Report, nOps: Int, untracedMs: Double, tracedMs: Double,
      opKind: String): Map[String, Double] = {
    val sp = r.sparkPer(opKind)
    r.selfPerOp(nOps) ++ Map(
      "trace.overhead_ms" -> (tracedMs - untracedMs),
      "trace.overhead_pct" -> 100.0 * (tracedMs - untracedMs) / untracedMs,
      "spark.jobs_per_op" -> sp("jobs"), "spark.stages_per_op" -> sp("stages"),
      "spark.tasks_per_op" -> sp("tasks"), "spark.shuffle_bytes_per_op" -> sp("shuffle_bytes"),
      "spark.driver_gap_ms" -> r.driverGapMs(opKind),
      "spark.plan_ms" -> r.planMsPerOp(nOps))
  }

  /** Live data files of every table of a store. */
  def filesLive(store: graft.storage.GraphStore): Double =
    (store.schema.nodes.map(n => scala.util.Try(store.node(n.name).inputFiles.length).getOrElse(0)) ++
      store.schema.rels.map(t => scala.util.Try(store.rel(t.name).inputFiles.length).getOrElse(0))).sum

  /** Bytes on disk under the store's graph dir ÷ bytes of its live
    * tables written once, one file per table (measured untimed). */
  def spaceAmp(store: graft.storage.GraphStore, tmpDir: java.io.File): Double = {
    val disk = Support.duBytes(new java.io.File(s"${store.root}/${store.graphId}"))
    Support.freshDir(tmpDir)
    val tables = store.schema.nodes.map(n => n.name -> scala.util.Try(store.node(n.name)).toOption) ++
      store.schema.rels.map(t => t.name -> scala.util.Try(store.rel(t.name)).toOption)
    tables.foreach { case (name, df) =>
      df.foreach(_.coalesce(1).write.parquet(new java.io.File(tmpDir, name).toString))
    }
    val once = Support.duBytes(tmpDir)
    Support.rmTree(tmpDir)
    disk.toDouble / math.max(1L, once)
  }
}
