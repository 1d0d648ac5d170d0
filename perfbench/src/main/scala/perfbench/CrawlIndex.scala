package perfbench

import java.io.File
import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.operators.{CrawlLoop, Dedup}
import graft.storage.{Bm25Index, EmbedIndex, MinHashIndex}
import Support._

/** `crawl_index`: a fixed schedule of seeded micro-batches through the
  * three-head crawl loop. Each batch: `CrawlLoop.admitBatch`, then
  * `CrawlLoop.maintain`, a `CrawlLoop.takedown` on every third batch
  * (from the second), and `Bm25Index.topDocs` queries. Every schedule
  * starts from fresh index directories. The schedule is fixed, not
  * time-boxed (a batch costs more as segments pile up): one batch per
  * 7.5 s of `--seconds`, at least two. */
object CrawlIndex extends Workload {
  val Dim = 32
  val MinJaccard = 0.4
  val MinCosine = 0.8
  val QueriesPerBatch = 3
  // words per query, each from a random doc offered so far: a query
  // matches more than TopK docs, so the top-k cut is exercised
  val QueryWords = 12
  val TopK = 10

  final case class Heads(mh: MinHashIndex, em: EmbedIndex, bm: Bm25Index, dir: File) {
    def segments: (Int, Int, Int) = (mh.segments.size, em.segments.size, bm.segments.size)
    def all: (Seq[String], Seq[String], Seq[String]) = (mh.segments, em.segments, bm.segments)
  }

  def heads(ctx: Ctx, dir: File): Heads = {
    freshDir(dir)
    Heads(new MinHashIndex(ctx.spark, s"$dir/mh", shingle = Dedup.WordGrams(2),
        numHashes = 64, bands = 16, nBuckets = 8),
      new EmbedIndex(ctx.spark, s"$dir/em", dim = Dim, nPlanes = 8, bands = 4, nBuckets = 8),
      new Bm25Index(ctx.spark, s"$dir/bm", nBuckets = 8), dir)
  }

  /** Timings of one schedule. */
  final class Run {
    val batchMs = mutable.ArrayBuffer.empty[Double]
    val admitMs = mutable.ArrayBuffer.empty[Double]
    val maintainMs = mutable.ArrayBuffer.empty[Double]
    val maintainNoopMs = mutable.ArrayBuffer.empty[Double]
    val takedownMs = mutable.ArrayBuffer.empty[Double]
    val topkMs = mutable.ArrayBuffer.empty[Double]
    // (batch index, query, (id, score) in rank order) of every topDocs call
    val topk = mutable.ArrayBuffer.empty[(Int, String, Seq[(Long, Double)])]
    var wallS = 0.0
  }

  private def ms[T](into: mutable.ArrayBuffer[Double])(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally into += (System.nanoTime() - t0) / 1e6
  }

  /** Ids taken down after batch `b`'s maintain pass (every third batch,
    * from the second, so the first two batches' segments are adjacent in
    * the manifest when the second maintain pass runs and it has a tier
    * to merge): three seeded picks among all ids offered so far, live
    * or not. */
  def takedownIds(seed: Long, schedule: Seq[Seq[Data.Doc]], b: Int): Option[Seq[Long]] =
    if (b % 3 != 1) None
    else {
      val r = new Random(seed * 31 + b)
      val offered = schedule.take(b + 1).flatten.map(_.id)
      Some(Seq.fill(3)(offered(r.nextInt(offered.size))).distinct)
    }

  def queries(seed: Long, schedule: Seq[Seq[Data.Doc]], b: Int): Seq[(Long, String)] = {
    val r = new Random(seed * 17 + b)
    val offered = schedule.take(b + 1).flatten
    (1 to QueriesPerBatch).map { q =>
      (q.toLong, Seq.fill(QueryWords) {
        val words = offered(r.nextInt(offered.size)).text.split(" ")
        words(r.nextInt(words.length))
      }.mkString(" "))
    }
  }

  def schedule(ctx: Ctx, h: Heads, batches: Seq[DataFrame], docs: Seq[Seq[Data.Doc]]): Run = {
    import ctx.spark.implicits._
    val run = new Run
    val t0 = System.nanoTime()
    batches.zipWithIndex.foreach { case (batch, b) =>
      Trace.span("bench", "batch", Trace.newRequestId()) {
        ms(run.batchMs) {
          ms(run.admitMs)(Trace.span("operators", "admit") {
            CrawlLoop.admitBatch(h.mh, h.em, h.bm, batch, "doc_id", "text", "embedding",
              tag = s"crawl:$b", minJaccard = MinJaccard, minCosine = MinCosine)
          })
          val before = h.all
          val t = System.nanoTime()
          Trace.span("operators", "maintain")(CrawlLoop.maintain(h.mh, h.em, h.bm))
          val took = (System.nanoTime() - t) / 1e6
          run.maintainMs += took
          if (h.all == before) run.maintainNoopMs += took
          takedownIds(ctx.seed, docs, b).foreach { ids =>
            ms(run.takedownMs)(Trace.span("operators", "takedown") {
              CrawlLoop.takedown(h.mh, h.em, h.bm, ids.toDF("doc_id"), "doc_id", s"takedown:$b")
            })
          }
          queries(ctx.seed, docs, b).foreach { q =>
            val rows = ms(run.topkMs)(Trace.span("storage", "topk") {
              h.bm.topDocs(Seq(q), k = TopK).collect()
            })
            run.topk += ((b, q._2, rows.toSeq.sortBy(_.getAs[Int]("rank"))
              .map(r => (r.getAs[Long]("id"), r.getAs[Double]("score")))))
          }
        }
      }
    }
    run.wallS = (System.nanoTime() - t0) / 1e9
    run
  }

  /** The sequential-admission replay: per batch, exact within-batch
    * dedup keeping the least id, then drop what has word-bigram
    * Jaccard >= MinJaccard, then cosine >= MinCosine, against the docs
    * live before the batch; takedowns remove ids. Returns the live set
    * after every batch and the admitted count. */
  def replay(seed: Long, docs: Seq[Seq[Data.Doc]]): (IndexedSeq[Set[Long]], Long) = {
    def bigrams(t: String) = t.split(" ").sliding(2).map(_.mkString(" ")).toSet
    def cos(a: Array[Float], b: Array[Float]) = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i => d += a(i) * b(i).toDouble; na += a(i) * a(i).toDouble; nb += b(i) * b(i).toDouble }
      d / math.sqrt(na * nb)
    }
    val live = mutable.LinkedHashMap.empty[Long, (Set[String], Array[Float])]
    var admitted = 0L
    val after = docs.zipWithIndex.map { case (batch, b) =>
      val clean = batch.groupBy(_.text).values.map(_.minBy(_.id)).toSeq.sortBy(_.id)
      val incoming = clean.map(d => (d, bigrams(d.text)))
      val textOk = incoming.filter { case (_, g) =>
        !live.valuesIterator.exists { case (lg, _) =>
          (g intersect lg).size.toDouble / (g union lg).size >= MinJaccard }
      }
      val ok = textOk.filter { case (d, _) =>
        !live.valuesIterator.exists { case (_, lv) => cos(d.vec, lv) >= MinCosine }
      }
      ok.foreach { case (d, g) => live(d.id) = (g, d.vec) }
      admitted += ok.size
      takedownIds(seed, docs, b).foreach(_.foreach(live.remove))
      live.keySet.toSet
    }
    (after.toIndexedSeq, admitted)
  }

  /** BM25 scores of `query` over the `live` docs, in plain Scala with
    * `Bm25Index.topDocs`'s arithmetic: terms split on " ", k1 1.2,
    * b 0.75, idf log(1 + (N − df + 0.5) / (df + 0.5)), a doc's score the
    * sum over the query's distinct terms it holds. */
  def bm25Scores(live: Set[Long], text: Map[Long, String], query: String): Map[Long, Double] = {
    val (k1, bb) = (1.2, 0.75)
    val tfs = live.toSeq.map(id => id -> text(id).split(" ").filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.length).toMap)
    val dl = tfs.map { case (id, tf) => id -> tf.values.sum.toDouble }.toMap
    val avgdl = dl.values.sum / math.max(1, live.size)
    val terms = query.split(" ").filter(_.nonEmpty).distinct
    val df = terms.map(t => t -> tfs.count(_._2.contains(t))).toMap
    tfs.flatMap { case (id, tf) =>
      val held = terms.filter(tf.contains)
      if (held.isEmpty) None
      else Some(id -> held.map { t =>
        val idf = math.log(1.0 + (live.size - df(t) + 0.5) / (df(t) + 0.5))
        idf * tf(t) * (k1 + 1.0) / (tf(t) + k1 * (1.0 - bb + bb * dl(id) / avgdl))
      }.sum)
    }.toMap
  }

  /** Why a `topDocs` result is not a top-`k` of `want` (scores by id),
    * if it is not: it must hold min(k, |want|) ids in rank order, each
    * with its own score (to the 6 decimals the index rounds to), and no
    * id left out may score above the last one returned. */
  def topkProblem(got: Seq[(Long, Double)], want: Map[Long, Double], k: Int): Option[String] = {
    val eps = 1e-5
    val wrong = got.filter { case (id, sc) => want.get(id).forall(w => math.abs(w - sc) > eps) }
    val left = want -- got.map(_._1)
    if (got.size != math.min(k, want.size))
      Some(s"${got.size} results, want ${math.min(k, want.size)}")
    else if (wrong.nonEmpty)
      Some(s"ids ${wrong.map(_._1)} are not live or scored ${wrong.map(_._2)}, want ${wrong.map(x => want.get(x._1))}")
    else if (got.sliding(2).exists(p => p.size == 2 && p(1)._2 > p(0)._2 + eps))
      Some(s"scores out of rank order: ${got.map(_._2)}")
    else if (got.nonEmpty && left.values.exists(_ > got.last._2 + eps))
      Some(s"left out ${left.maxBy(_._2)}, above the last returned ${got.last}")
    else None
  }

  def run(ctx: Ctx): Outcome = {
    import ctx.spark.implicits._
    val (nBatches, batchSize) = if (ctx.smoke) (2, 8) else (math.max(2, ctx.seconds * 2 / 15), 40)
    val docs = Data.crawl(ctx.seed, nBatches, batchSize, Dim)
    // set-up: stage the micro-batches as parquet and open fresh heads
    val setupS = (1 to (if (ctx.smoke) 1 else 3)).map { i =>
      val t0 = System.nanoTime()
      val dir = freshDir(new File(ctx.work, s"batches$i"))
      docs.zipWithIndex.foreach { case (batch, b) =>
        batch.map(d => (d.id, d.text, d.vec.toSeq)).toDF("doc_id", "text", "embedding")
          .coalesce(1).write.parquet(s"$dir/b$b")
      }
      heads(ctx, new File(ctx.work, "heads"))
      (System.nanoTime() - t0) / 1e9
    }
    phase("setup")
    val batchDir = new File(ctx.work, s"batches${setupS.size}")
    val batches = docs.indices.map(b => ctx.spark.read.parquet(s"$batchDir/b$b"))
    val h = heads(ctx, new File(ctx.work, "heads"))
    val run = schedule(ctx, h, batches, docs)
    // traced run: an untraced baseline schedule on a warm JVM, then the
    // traced one, each on fresh heads, so the overhead compares two warm
    // schedules (the first one also pays the JVM's cold start)
    val bh = if (ctx.traced) Some(heads(ctx, new File(ctx.work, "heads-base"))) else None
    val base = bh.map(schedule(ctx, _, batches, docs))
    val th = if (ctx.traced) Some(heads(ctx, new File(ctx.work, "heads-traced"))) else None
    val (traced, report) = Loop.traced(ctx, ctx.traced)(th.map(schedule(ctx, _, batches, docs)))
    phase("schedules")
    // checks: three heads agree with each other and with the replay
    val (liveAfter, admitted) = replay(ctx.seed, docs)
    def ids(df: DataFrame) = df.collect().map(_.getLong(0)).toSet
    val want = liveAfter.last
    val text = docs.flatten.map(d => d.id -> d.text).toMap
    val problems = (Seq(h) ++ bh ++ th).flatMap { x =>
      val (m, e, b) = (ids(x.mh.liveDocIds), ids(x.em.liveDocIds), ids(x.bm.liveDocIds))
      Seq(
        (m != want) -> s"${x.dir.getName}: minhash live ${m.size} != replay ${want.size} (extra ${(m -- want).take(5)}, missing ${(want -- m).take(5)})",
        (e != m) -> s"${x.dir.getName}: embed live ${e.size} != minhash live ${m.size}",
        (b != m) -> s"${x.dir.getName}: bm25 live ${b.size} != minhash live ${m.size}")
    } ++
      (Seq(run) ++ base ++ traced).flatMap(_.topk).distinct.flatMap { case (bi, q, got) =>
        topkProblem(got, bm25Scores(liveAfter(bi), text, q), TopK)
          .map(why => true -> s"topDocs '$q' after batch $bi: $why")
      }
    val bad = problems.filter(_._1).map(_._2)
    val offered = docs.map(_.size).sum
    // space: index bytes ÷ the live docs written once
    val indexBytes = duBytes(h.dir)
    val once = new File(ctx.work, "once")
    batches.reduce(_ unionByName _).join(want.toSeq.toDF("doc_id"), "doc_id")
      .coalesce(1).write.parquet(once.toString)
    val amp = indexBytes.toDouble / math.max(1L, duBytes(once))
    val (sm, se, sb) = h.segments
    val e2e = Map(
      "setup_s" -> median(setupS), "ops_per_s" -> offered / run.wallS,
      "op_mean_ms" -> mean(run.batchMs.toSeq),
      "first_result_mean_ms" -> mean(run.topkMs.toSeq),
      "secondary_mean_ms" -> mean(run.admitMs.toSeq), "space_amp" -> amp,
      "peak_rss_mb" -> peakRssMb)
    val layer = report.map { r =>
      val t = traced.get
      Loop.common(r, t.batchMs.size, mean(base.get.batchMs.toSeq), mean(t.batchMs.toSeq), "batch") ++
        Map(
          "operators.admit_ms" -> mean(t.admitMs.toSeq),
          "operators.takedown_ms" -> mean(t.takedownMs.toSeq),
          "operators.maintain_ms" -> mean(t.maintainMs.toSeq),
          "operators.maintain_noop_ms" -> mean(t.maintainNoopMs.toSeq),
          "operators.admit_ratio" -> admitted.toDouble / offered,
          "storage.index_segments.minhash" -> sm.toDouble,
          "storage.index_segments.embed" -> se.toDouble,
          "storage.index_segments.bm25" -> sb.toDouble,
          "storage.index_bytes" -> indexBytes.toDouble,
          "crawl_docs_per_s" -> offered / t.wallS,
          "topk_p50_ms" -> median(t.topkMs.toSeq))
    }.getOrElse(Map.empty)
    val info = Seq(
      f"setup_s reps: ${setupS.map(s => f"$s%.2f").mkString(" ")}",
      f"schedule: $nBatches batches x $batchSize docs in ${run.wallS}%.1f s, crawl_docs_per_s ${offered / run.wallS}%.2f",
      s"batch ms: ${run.batchMs.map(x => f"$x%.0f").mkString(" ")}",
      Reads.describe("admit", run.admitMs.toSeq),
      Reads.describe("maintain", run.maintainMs.toSeq) + s" (noop ${run.maintainNoopMs.size})",
      Reads.describe("takedown", run.takedownMs.toSeq),
      Reads.describe("topk", run.topkMs.toSeq),
      f"admitted $admitted of $offered, live ${want.size}, segments minhash/embed/bm25 $sm/$se/$sb, space_amp $amp%.2f",
      s"checks: ${bad.size} problems; ${(Seq(run) ++ base ++ traced).map(_.topk.size).sum} topDocs results checked against plain BM25") ++
      report.map(r => s"trace: ${r.totalJobs} spark jobs, ${r.unattributedJobs} unattributed").toSeq ++ bad
    val nOps = run.admitMs.size + run.maintainMs.size + run.takedownMs.size + run.topkMs.size
    Outcome(bad.isEmpty, nOps.toLong, 0L, e2e, layer, info)
  }
}
