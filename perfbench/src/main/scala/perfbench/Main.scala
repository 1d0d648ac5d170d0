package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Settings of one run. `smoke` shrinks every input to a handful of
  * operations; the checks stay the same. */
final case class Ctx(spark: SparkSession, work: File, out: File, seed: Long,
    seconds: Int, traced: Boolean, smoke: Boolean, cpus: Int)

/** What a workload reports. `endToEnd` must hold every name of
  * [[Main.EndToEnd]]; `perLayer` the names of [[Main.PerLayer]] it can
  * fill (the rest print as 0). `info` lines go to stdout before the
  * result line. */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
    endToEnd: Map[String, Double], perLayer: Map[String, Double], info: Seq[String])

trait Workload {
  def run(ctx: Ctx): Outcome
  /** Per-layer metrics only this workload fills, printed after
    * [[Main.PerLayer]] in its traced run. */
  def ownPerLayer: Seq[(String, String)] = Nil
}

object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_per_s" -> "1/s", "op_mean_ms" -> "ms",
    "first_result_mean_ms" -> "ms", "secondary_mean_ms" -> "ms",
    "space_amp" -> "ratio", "peak_rss_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "serve.self_ms_per_op" -> "ms", "query.self_ms_per_op" -> "ms",
    "storage.self_ms_per_op" -> "ms", "operators.self_ms_per_op" -> "ms",
    "views.self_ms_per_op" -> "ms", "spark.self_ms_per_op" -> "ms",
    "trace.overhead_ms" -> "ms", "trace.overhead_pct" -> "%",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.shuffle_bytes_per_op" -> "B",
    "spark.driver_gap_ms" -> "ms", "spark.plan_ms" -> "ms",
    "serve.govern_us" -> "us", "serve.queue_wait_ms" -> "ms",
    "serve.compile_ms" -> "ms", "serve.rejected" -> "count",
    "serve.error_rate" -> "ratio",
    "serve.first_data_ms" -> "ms", "serve.drain_ms" -> "ms",
    "serve.ndjson_bytes" -> "B", "serve.chunks" -> "count",
    "query.parse_ms" -> "ms", "storage.resolve_ms" -> "ms",
    "storage.files_live" -> "count",
    "storage.index_segments.minhash" -> "count", "storage.index_segments.embed" -> "count",
    "storage.index_segments.bm25" -> "count", "storage.index_bytes" -> "B",
    "operators.admit_ms" -> "ms", "operators.takedown_ms" -> "ms",
    "operators.maintain_ms" -> "ms", "operators.maintain_noop_ms" -> "ms",
    "operators.admit_ratio" -> "ratio", "views.trial_balance_ms" -> "ms",
    "read_qps" -> "1/s", "read_p50_ms" -> "ms", "read_p95_ms" -> "ms",
    "crawl_docs_per_s" -> "1/s", "topk_p50_ms" -> "ms")

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val workload: Workload = name match {
      case "serve_read" => ServeRead
      case "write_mix" => WriteMix
      case "crawl_index" => CrawlIndex
      case other =>
        System.err.println(s"unknown workload '$other' (serve_read, write_mix, crawl_index)")
        sys.exit(2)
    }
    val env = new Support.EnvStamp
    val spark = graft.SparkBoot.session(env.nproc)
    Support.phase("session")
    val work = Support.freshDir(new File(a("work")))
    val ctx = Ctx(spark, work, new File(a("out")), a("seed").toLong,
      a("seconds").toInt, a.get("trace").contains("1"), a.get("smoke").contains("1"),
      env.nproc)
    val o = try workload.run(ctx) catch {
      case t: Throwable =>
        // no result line: a run that could not finish has no figures
        t.printStackTrace()
        Runtime.getRuntime.halt(1)
        throw t
    }
    val stamp = env.finish()
    val metrics = if (ctx.traced)
        (PerLayer ++ workload.ownPerLayer).map { case (k, u) => (k, u, o.perLayer.getOrElse(k, 0.0)) }
      else EndToEnd.map { case (k, u) => (k, u, o.endToEnd(k)) }
    o.info.foreach(l => println(s"# $l"))
    println(s"# env $stamp")
    metrics.foreach { case (k, u, v) => println(f"# metric $k%-34s ${num(v)}%s $u") }
    val json = metrics.map { case (k, u, v) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    val line = s"""{"correct": ${o.correct}, "attempted": ${o.attempted}, "failed": ${o.failed}, "metrics": {$json}}"""
    ctx.out.mkdirs()
    val art = new java.io.PrintWriter(new File(ctx.out,
      s"$name-seed${ctx.seed}-trace${if (ctx.traced) 1 else 0}.json"), "UTF-8")
    try art.println(s"""{"env": $stamp, "result": $line}""") finally art.close()
    spark.stop()
    Support.rmTree(work)
    println(line)
    System.out.flush()
    sys.exit(if (o.correct) 0 else 1)
  }
}
