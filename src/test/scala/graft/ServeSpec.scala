package graft

import graft.serve.{GraphIdentity, QueryGovernance => QG, QueryQueue,
  QueryRejectedException, QueryService, ResultCache, ResultStreamer}
import graft.sources.Tables

class ServeSpec extends SparkTestBase {

  test("classification: read/write/bulk/admin/ddl") {
    import QG.QueryKind._
    assert(QG.classify("MATCH (n) RETURN n LIMIT 10") === Read)
    assert(QG.classify("MATCH (n) SET n.x = 1") === Write)
    assert(QG.classify("CREATE (n:Entity {id: 1})") === Write)
    assert(QG.classify("COPY Entity FROM 'x.parquet'") === Bulk)
    assert(QG.classify("ATTACH 'db' AS x") === Admin)
    assert(QG.classify("CREATE NODE TABLE Foo(id STRING)") === Ddl)
    // keywords inside string literals must not classify
    assert(QG.classify("MATCH (n) WHERE n.name = 'CREATE MERGE' RETURN n LIMIT 5") === Read)
    // keywords inside comments must not classify
    assert(QG.classify("MATCH (n) // SET later\nRETURN n LIMIT 5") === Read)
  }

  test("classification: a string-literal predicate before a write clause stays Write") {
    import QG.QueryKind._
    // the stripped literal must read as a value: a blank left `=` as the
    // last significant character, so the clause read as expression context
    assert(QG.classify(
      "MATCH (c:Customer) WHERE c.identifier = '7' SET c.acctbal = 1.0") === Write)
    assert(QG.classify(
      "MATCH (c:Customer) WHERE c.identifier = \"7\" SET c.acctbal = 1.0") === Write)
    assert(QG.classify(
      "MATCH (c:Customer) WHERE c.identifier = '7' REMOVE c.acctbal") === Write)
    assert(QG.classify(
      "MATCH (c:Customer) WHERE c.identifier = '7' DETACH DELETE c") === Write)
    assert(QG.classify(
      "MATCH (c:Customer) WHERE c.name IN ['a', 'b'] SET c.x = 1") === Write)
    // the literal forms of reads stay reads, and keywords used as
    // properties, aliases and map keys still do not classify
    assert(QG.classify(
      "MATCH (c:Customer) WHERE c.identifier = '7' RETURN c.set AS use") === Read)
    assert(QG.classify("MATCH (c:C {set: 'x'}) RETURN c") === Read)
    assert(QG.classify("MATCH (c:C) RETURN 'a' AS set") === Read)
    assert(QG.classify("MATCH (c:C) RETURN c.set AS use") === Read)
    assert(QG.classify("MATCH (c:C {set: 1}) RETURN c") === Read)
    assert(QG.classify("MATCH (c) WHERE c.not DELETE c") === Write)
  }

  test("shape analysis thresholds (small<=100, medium<=1000)") {
    import QG.ResultSize._
    assert(QG.analyze("MATCH (n) RETURN n LIMIT 50").estimatedSize === Small)
    assert(QG.analyze("MATCH (n) RETURN n LIMIT 500").estimatedSize === Medium)
    assert(QG.analyze("MATCH (n) RETURN n LIMIT 5000").estimatedSize === Large)
    assert(QG.analyze("MATCH (n) RETURN count(n)").estimatedSize === Small)
    assert(QG.analyze("MATCH (n) RETURN n").requiresStreaming)
    assert(QG.analyze("MATCH p=shortestPath((a)-[*]-(b)) RETURN p LIMIT 5").potentiallyExpensive)
  }

  test("complexity scoring: var-length >5 hops penalized, reject > 50") {
    assert(QG.complexityScore("MATCH (a)-[:R*1..3]->(b) RETURN a LIMIT 5") === 0)
    assert(QG.complexityScore("MATCH (a)-[:R*1..9]->(b) RETURN a LIMIT 5") === 40)
    assert(QG.validate("MATCH (a)-[:R*1..9]->(b) RETURN a LIMIT 5").isRight)
    assert(QG.validate("MATCH (a)-[:R*1..12]->(b) RETURN a LIMIT 5").isLeft)
  }

  test("queue: priority order, per-user caps, cancel, results") {
    val q = new QueryQueue(maxConcurrent = 2, maxQueueSize = 100, maxPerUser = 3)
    try {
      val done = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val gateA = new java.util.concurrent.CountDownLatch(1)
      val gateB = new java.util.concurrent.CountDownLatch(1)
      val started = new java.util.concurrent.CountDownLatch(2)
      // saturate both workers so later submissions queue up — wait for
      // the workers to actually PICK UP the blockers (a fixed sleep
      // raced on a loaded box: low/high could start immediately and
      // complete in submission order)
      q.submit("u0") { started.countDown(); gateA.await(); 0 }
      q.submit("u0") { started.countDown(); gateB.await(); 0 }
      assert(started.await(10, java.util.concurrent.TimeUnit.SECONDS),
        "blocker tasks never started")
      val low = q.submit("u1", priority = 1) { done.add(1); 1 }.toOption.get
      val high = q.submit("u1", priority = 10) { done.add(10); 10 }.toOption.get
      // free ONE worker only: releasing both at once let two workers
      // dequeue high and low concurrently, making COMPLETION order a
      // thread race even though DEQUEUE order is by priority
      gateA.countDown()
      assert(q.await(high) === q.Status.Completed)
      assert(done.peek() === 10) // higher priority drained first
      gateB.countDown()
      assert(q.await(low) === q.Status.Completed)
      assert(q.resultOf(high).contains(10))
      // per-user cap
      val g2 = new java.util.concurrent.CountDownLatch(1)
      (1 to 2).foreach(_ => q.submit("u9") { g2.await(); 0 })
      val ids = (1 to 3).map(_ => q.submit("u2") { g2.await(); 0 })
      assert(ids.forall(_.isRight))
      assert(q.submit("u2")(0).isLeft)
      // cancel one still queued
      val queued = ids.last.toOption.get
      assert(q.cancel(queued))
      g2.countDown()
      assert(q.await(queued) === q.Status.Cancelled)
    } finally q.shutdown()
  }

  test("failed query surfaces its error") {
    val q = new QueryQueue(maxConcurrent = 1)
    try {
      val id = q.submit("u") { throw new RuntimeException("boom") }.toOption.get
      assert(q.await(id) === q.Status.Failed)
      assert(q.errorOf(id).exists(_.getMessage === "boom"))
    } finally q.shutdown()
  }

  test("ndjson streaming chunks rows lazily with correct framing") {
    val df = Tables.nation(spark, sfDir)
    val chunks = ResultStreamer.ndjsonChunks(df, chunkSize = 10).toSeq
    assert(chunks.map(_.size).sum === 25)
    assert(chunks.head.size === 10 && chunks.last.size === 5)
    assert(chunks.head.head.startsWith("{\"n_nationkey\":"))
    val sse = ResultStreamer.sseEvents(df, chunkSize = 10).toSeq
    assert(sse.size === 4) // 3 data + done
    assert(sse.last.contains("\"rows\":25"))
  }

  test("queued execution streams queued/running/progress/data/done events") {
    val q = new QueryQueue(maxConcurrent = 1)
    try {
      val gate = new java.util.concurrent.CountDownLatch(1)
      val blockerUp = new java.util.concurrent.CountDownLatch(1)
      q.submit("blocker") { blockerUp.countDown(); gate.await(); 0 } // hold the single worker
      assert(blockerUp.await(10, java.util.concurrent.TimeUnit.SECONDS),
        "blocker never started")
      // the task holds itself open until the STREAM has observed a
      // progress heartbeat — a fixed task sleep raced consumer-thread
      // scheduling on a loaded box (task done before the first
      // lifecycle poll ⇒ no running/progress events)
      val seenProgress = new java.util.concurrent.CountDownLatch(1)
      val id = q.submit("u") {
        seenProgress.await(10, java.util.concurrent.TimeUnit.SECONDS)
        Tables.nation(spark, sfDir)
      }.toOption.get
      // release the worker shortly after the stream starts polling
      new Thread(() => { Thread.sleep(100); gate.countDown() }).start()
      val it = ResultStreamer.sseQueuedEvents(q, id,
        chunkSize = 10, pollMs = 2, progressEveryMs = 50)
      val events = it.map { e =>
        if (e.startsWith("event: progress")) seenProgress.countDown()
        e
      }.toSeq
      val names = events.map(_.linesIterator.next().stripPrefix("event: "))
      assert(names.head === "queued")
      assert(names.contains("running"))
      assert(names.contains("progress"), s"no progress heartbeat in $names")
      // protocol order: queued < running < progress < first data < done
      assert(names.indexOf("running") > names.indexOf("queued"))
      assert(names.indexOf("progress") > names.indexOf("running"))
      assert(names.indexOf("data") > names.indexOf("progress"))
      assert(names.last === "done")
      assert(events.last.contains("\"rows\":25"))
    } finally q.shutdown()
  }

  test("queued execution surfaces failure as an error event") {
    val q = new QueryQueue(maxConcurrent = 1)
    try {
      val id = q.submit("u") { throw new RuntimeException("boom") }.toOption.get
      q.await(id)
      val events = ResultStreamer.sseQueuedEvents(q, id, pollMs = 2).toSeq
      val names = events.map(_.linesIterator.next().stripPrefix("event: "))
      assert(names.head === "queued")
      assert(names.last === "error")
      assert(events.last.contains("boom"))
    } finally q.shutdown()
  }

  test("graph identity: subgraph / main / shared-repository rules") {
    assert(GraphIdentity.isSubgraph("kg5f2e5e0da65d45d6_dev"))
    assert(GraphIdentity.parseSubgraph("kg5f2e5e0da65d45d6_dev") ===
      Some(("kg5f2e5e0da65d45d6", "dev")))
    assert(!GraphIdentity.isSubgraph("kg5f2e5e0da65d45d6"))
    assert(GraphIdentity.isUserGraph("kg5f2e5e0da65d45d6"))
    assert(GraphIdentity.isSharedRepository("sec"))
    // shared repositories cannot have subgraphs: sec_dev is just shared
    assert(!GraphIdentity.isSubgraph("sec_dev"))
  }

  test("query service routes: writes only on subgraphs, guidance elsewhere") {
    import java.nio.file.Files
    import graft.fixtures.SecFixture
    val root = Files.createTempDirectory("graft-svc").toString
    // subgraph id => writes execute
    val sub = SecFixture.ingest(spark, root, "kg5f2e5e0da65d45d6_dev")
    val svc = new QueryService(sub)
    assert(svc.execute("MATCH (e:Entity) RETURN count(e) AS n")
      .collect()(0).getLong(0) === 2L)
    svc.execute(
      "MATCH (c:Entity {identifier: 'ent_apple'}) SET c.status = 'svc'")
    assert(sub.node("Entity")
      .filter(org.apache.spark.sql.functions.col("identifier") === "ent_apple")
      .collect()(0).getAs[String]("status") === "svc")
    // main graph => rejected with staging-pipeline guidance
    val main = SecFixture.ingest(spark, root, "kg5f2e5e0da65d45d6")
    val exMain = intercept[QueryRejectedException] {
      new QueryService(main).execute(
        "MATCH (c:Entity {identifier: 'ent_apple'}) SET c.status = 'x'")
    }
    assert(exMain.getMessage.contains("staging pipeline"))
    // shared repository => rejected outright
    val shared = SecFixture.ingest(spark, root, "sec")
    val exShared = intercept[QueryRejectedException] {
      new QueryService(shared).execute("MATCH (n) DETACH DELETE n")
    }
    assert(exShared.getMessage.contains("shared repository"))
    // bulk/DDL guidance
    assert(intercept[QueryRejectedException] {
      new QueryService(shared).execute("COPY Entity FROM 'x.parquet'")
    }.getMessage.contains("staging"))
  }

  test("a write through the service invalidates the graph's cached results") {
    import java.nio.file.Files
    import graft.fixtures.SecFixture
    val root = Files.createTempDirectory("graft-svc-cache").toString
    val sub = SecFixture.ingest(spark, root, "kg00aa11bb22cc33dd_dev")
    val cache = new ResultCache[String]()
    val svc = new QueryService(sub, Some(cache))
    val k = cache.key(sub.graphId, "MATCH (e:Entity) RETURN count(e) AS n")
    cache.put(k, "cached-result")
    assert(cache.get(k) === Some("cached-result"))
    svc.execute(
      "MATCH (c:Entity {identifier: 'ent_apple'}) SET c.status = 'dirty'")
    assert(cache.get(k) === None, "stale entry must be gone after the write")
  }
}
