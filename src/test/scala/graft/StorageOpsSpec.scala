package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import graft.fixtures.AccountingFixture
import graft.functions.IdFunctions
import graft.query.cypher.CypherCompiler
import graft.schema.{CustomSchemaJson, RoboledgerSchema}
import graft.storage._
import graft.views.TrialBalance

/** Storage-adjacent parity surface: file staging, metrics, backup,
  * transactions, id generation. */
class StorageOpsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val root = Files.createTempDirectory("graft-storeops").toString
  private lazy val store = AccountingFixture.ingest(spark, root, "ops")

  test("csv staging reads headers and ingests with dedup") {
    val csvDir = Files.createTempDirectory("graft-csv").toString
    Seq(("p1", "Close Books", "monthly"), ("p2", "Audit", "yearly"),
      ("p1", "Close Books", "monthly"))
      .toDF("identifier", "name", "process_type")
      .coalesce(1).write.option("header", "true").mode("overwrite")
      .csv(s"$csvDir/procs")
    val written = FileStaging.ingestNodeFile(store, "Process", s"$csvDir/procs", "csv1")
    assert(written === 2) // dup p1 dropped
    assert(spark.sql("SELECT count(*) AS n FROM staged_process").collect()(0).getLong(0) === 3)
    assert(store.node("Process").count() === 2)
  }

  test("staging rejects non-CFB bytes posing as xls, and unknown formats") {
    java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/not-really.xls"),
      "this is not an OLE2 container".getBytes)
    val e = intercept[IllegalArgumentException] {
      FileStaging.stage(spark, "/tmp/not-really.xls", "v")
    }
    assert(e.getMessage.contains("CFB"))
    assertThrows[IllegalArgumentException] {
      FileStaging.stage(spark, "/tmp/x.bin", "v")
    }
  }

  /** A real .xlsx assembled from its OOXML parts: shared + inline
    * strings, numbers, a boolean, a skipped cell, a ref-less cell
    * (position fallback), rich-text shared string. */
  private def writeXlsx(path: String): Unit = {
    val shared =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="3" uniqueCount="3">
        |<si><t>identifier</t></si>
        |<si><r><t>wid</t></r><r><t>gets</t></r></si>
        |<si><t>alpha</t></si>
        |</sst>""".stripMargin
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="inlineStr"><is><t>amount</t></is></c><c r="C1" t="s"><v>1</v></c><c r="D1" t="str"><v>flag</v></c></row>
        |<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>12.5</v></c><c r="C2"><v>7</v></c><c r="D2" t="b"><v>1</v></c></row>
        |<row r="3"><c r="A3" t="inlineStr"><is><t>beta</t></is></c><c r="C3"><v>9</v></c><c t="b"><v>0</v></c></row>
        |</sheetData>
        |</worksheet>""".stripMargin
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(path))
    try Seq("xl/sharedStrings.xml" -> shared, "xl/worksheets/sheet1.xml" -> sheet)
      .foreach { case (name, content) =>
        zos.putNextEntry(new java.util.zip.ZipEntry(name))
        zos.write(content.getBytes("UTF-8"))
        zos.closeEntry()
      }
    finally zos.close()
  }

  test("xlsx staging: shared/inline strings, typed columns, sparse cells, position fallback") {
    val p = Files.createTempDirectory("graft-xlsx").resolve("up.xlsx").toString
    writeXlsx(p)
    val df = FileStaging.stage(spark, p, "staged_xlsx")
    assert(df.columns.toSeq === Seq("identifier", "amount", "widgets", "flag"))
    val types = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(types("amount") === "double") // 12.5 forces double
    assert(types("widgets") === "bigint") // 7, 9 stay long
    assert(types("flag") === "string") // booleans as strings
    val rows = df.orderBy(col("identifier")).collect()
    assert(rows.length === 2)
    assert(rows(0).getString(0) === "alpha" && rows(0).getDouble(1) === 12.5 &&
      rows(0).getLong(2) === 7L && rows(0).getString(3) === "true")
    // row 3: B skipped -> null amount; D has no r= -> lands by position
    assert(rows(1).getString(0) === "beta" && rows(1).isNullAt(1) &&
      rows(1).getLong(2) === 9L && rows(1).getString(3) === "false")
    // staged as a queryable view (the SQL passthrough surface)
    assert(spark.sql("SELECT sum(widgets) AS s FROM staged_xlsx")
      .collect()(0).getLong(0) === 16L)
  }

  test("metrics: per-label and per-type counts plus summary") {
    val nodes = GraphMetrics.nodeCounts(store).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(nodes("Element") === 18L && nodes("Transaction") === 60L)
    val rels = GraphMetrics.relCounts(store).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(rels("ENTITY_HAS_TRANSACTION") === 60L)
    val s = GraphMetrics.summary(store).collect()(0)
    assert(s.getAs[Long]("total_nodes") >= 139L)
    assert(s.getAs[Long]("rel_types") === 3L)
  }

  test("property coverage reports non-null ratios") {
    val cov = GraphMetrics.propertyCoverage(store, "Element").collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(cov("identifier") === 18L)
    assert(cov("classification") === 18L)
    assert(cov("substitution_group") === 0L) // never populated by fixture
  }

  test("backup export/import round-trips every materialized table") {
    val dest = Files.createTempDirectory("graft-backup").toString
    val exported = GraphBackup.exportGraph(store, dest).toMap
    assert(exported("nodes/Element") === 18L)
    assert(exported.keys.exists(_.startsWith("rels/")))
    val restored = new GraphStore(spark, root, "ops-restored", RoboledgerSchema.schema)
    val imported = GraphBackup.importGraph(restored, dest).toMap
    assert(imported("nodes/Element") === 18L)
    assert(restored.node("Transaction").count() === store.node("Transaction").count())
  }

  test("encrypted backup round-trips; wrong password and tampering fail loudly") {
    val dest = Files.createTempDirectory("graft-backup-enc").toString
    val exported = GraphBackup.exportGraphEncrypted(store, dest, "s3cret").toMap
    assert(exported("nodes/Element") === 18L)
    // nothing readable as plain parquet; manifest + .enc files only
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dest))
    val names = try {
      import scala.jdk.CollectionConverters._
      files.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(_.getFileName.toString).toSeq
    } finally files.close()
    assert(names.exists(_.endsWith(".enc")))
    assert(!names.exists(n => n.endsWith(".parquet") && !n.endsWith(".parquet.enc")))
    assert(names.contains("manifest.json"))

    // wrong password → GCM tag failure, surfaced before any ingest
    val restoredBad = new GraphStore(spark, root, "ops-enc-bad", RoboledgerSchema.schema)
    val e = intercept[org.apache.spark.SparkException] {
      GraphBackup.importGraphEncrypted(restoredBad, dest, "wrong")
    }
    assert(e.getMessage != null)

    // right password → full round trip; the archive stays SEALED
    val restored = new GraphStore(spark, root, "ops-enc", RoboledgerSchema.schema)
    val imported = GraphBackup.importGraphEncrypted(restored, dest, "s3cret").toMap
    assert(imported("nodes/Element") === 18L)
    assert(restored.node("Transaction").count() === store.node("Transaction").count())
    val after = java.nio.file.Files.walk(java.nio.file.Paths.get(dest))
    val namesAfter = try {
      import scala.jdk.CollectionConverters._
      after.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(_.getFileName.toString).toSeq
    } finally after.close()
    assert(namesAfter.exists(_.endsWith(".enc")) &&
      !namesAfter.exists(n => n.endsWith(".parquet") && !n.endsWith(".parquet.enc")),
      s"restore must not decrypt the archive in place: $namesAfter")
    // restorable again (idempotent read path)
    val again = new GraphStore(spark, root, "ops-enc-again", RoboledgerSchema.schema)
    assert(GraphBackup.importGraphEncrypted(again, dest, "s3cret")
      .toMap.apply("nodes/Element") === 18L)

    // tampering: flip a byte in one .enc of a fresh export → digest check trips
    val dest2 = Files.createTempDirectory("graft-backup-enc2").toString
    GraphBackup.exportGraphEncrypted(store, dest2, "s3cret")
    val walk2 = java.nio.file.Files.walk(java.nio.file.Paths.get(dest2))
    val victim = try {
      import scala.jdk.CollectionConverters._
      walk2.iterator().asScala.find(_.toString.endsWith(".enc")).get
    } finally walk2.close()
    val bytes = java.nio.file.Files.readAllBytes(victim)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x1).toByte
    java.nio.file.Files.write(victim, bytes)
    val restored2 = new GraphStore(spark, root, "ops-enc2", RoboledgerSchema.schema)
    // digest verification is an up-front pass: fails on the DRIVER with
    // zero plaintext written
    val e2 = intercept[IllegalStateException] {
      GraphBackup.importGraphEncrypted(restored2, dest2, "s3cret")
    }
    assert(e2.getMessage.contains("integrity"))

    // deleting an archived file must fail the manifest completeness
    // check, not restore a silently partial graph
    java.nio.file.Files.delete(victim)
    val e3 = intercept[IllegalStateException] {
      GraphBackup.importGraphEncrypted(
        new GraphStore(spark, root, "ops-enc3", RoboledgerSchema.schema),
        dest2, "s3cret")
    }
    assert(e3.getMessage.contains("missing"))
  }

  test("transaction saga rolls back every table on failure") {
    val before = (store.node("Process").count(), store.rel("ENTITY_HAS_TRANSACTION").count())
    val attempt = scala.util.Try {
      GraphTransaction(store).run { txn =>
        txn.ingestNodes("Process",
          Seq(("pX", "Doomed", "t")).toDF("identifier", "name", "process_type"))
        txn.ingestRels("ENTITY_HAS_TRANSACTION",
          Seq(("ent1", "txn001")).toDF("from", "to"))
        throw new RuntimeException("simulated failure")
      }
    }
    assert(attempt.isFailure)
    assert(store.node("Process").count() === before._1)
    assert(store.rel("ENTITY_HAS_TRANSACTION").count() === before._2)
  }

  test("transaction commit keeps writes") {
    val before = store.node("Process").count()
    GraphTransaction(store).run { txn =>
      txn.ingestNodes("Process",
        Seq(("pY", "Kept", "t")).toDF("identifier", "name", "process_type"))
    }
    assert(store.node("Process").count() === before + 1)
  }

  test("uuidv7 shape: version 7, variant 10x, time-ordered prefix") {
    val ids = spark.range(100).select(IdFunctions.uuidv7().as("id"))
      .collect().map(_.getString(0))
    val re = "^[0-9a-f]{8}-[0-9a-f]{4}-7[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$".r
    assert(ids.forall(id => re.matches(id)), s"bad uuid: ${ids.find(id => !re.matches(id))}")
    assert(ids.distinct.length === ids.length)
    // deterministic content ids replay identically
    val c1 = Seq(("a", "b")).toDF("x", "y")
      .select(IdFunctions.contentId("fact", col("x"), col("y"))).collect()(0).getString(0)
    val c2 = Seq(("a", "b")).toDF("x", "y")
      .select(IdFunctions.contentId("fact", col("x"), col("y"))).collect()(0).getString(0)
    assert(c1 === c2 && c1.startsWith("fact_"))
  }

  // ---- declared-schema reads ----------------------------------------------

  /** Spark jobs started on this thread while `body` runs. The listener
    * bus delivers events in order but asynchronously, so a sentinel job
    * in its own group marks the end of the counted window. */
  private def jobsDuring(body: => Unit): Int = {
    val group = s"graft-plan-${System.nanoTime()}"
    val sentinel = s"$group-end"
    val counted = new AtomicInteger(0)
    val sawSentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => counted.incrementAndGet()
          case Some(`sentinel`) => sawSentinel.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "planning under test")
      body
      sc.setJobGroup(sentinel, "end of the counted window")
      sc.parallelize(Seq(1), 1).count()
      assert(sawSentinel.await(60, TimeUnit.SECONDS), "sentinel job never seen")
      counted.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** The oracle source: every table read as plain parquet at its path,
    * schema inferred from the files (append-only layout only). */
  private final class PlainParquet(store: GraphStore) extends GraphSource {
    def schema = store.schema
    def node(label: String): DataFrame = spark.read.parquet(store.nodePath(label))
    def rel(tpe: String): DataFrame = spark.read.parquet(store.relPath(tpe))
  }

  private val multiHop =
    """MATCH (e:Entity)-[:ENTITY_HAS_TRANSACTION]->(t:Transaction)
         -[:TRANSACTION_HAS_LINE_ITEM]->(li:LineItem)
         -[:LINE_ITEM_RELATES_TO_ELEMENT]->(el:Element)
       RETURN el.identifier AS id, count(li) AS n,
         sum(li.debit_amount) AS debits, sum(li.credit_amount) AS credits
       ORDER BY id"""

  /** Rewrites `store` into the pointer-era layout: each table's files in
    * a `_gen-1` dir named by a per-table `_current` pointer. */
  private def toPointerLayout(store: GraphStore): Unit =
    (store.schema.nodes.map(n => store.nodePath(n.name)) ++
      store.schema.rels.map(r => store.relPath(r.name)))
      .map(new java.io.File(_)).filter(_.exists).foreach { dir =>
      val gen = new java.io.File(dir, "_gen-1")
      gen.mkdirs()
      dir.listFiles().filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).foreach { f =>
        java.nio.file.Files.move(f.toPath, new java.io.File(gen, f.getName).toPath)
      }
      java.nio.file.Files.write(new java.io.File(dir, "_current").toPath,
        "_gen-1".getBytes("UTF-8"))
    }

  test("persisted Cypher reads and views plan with zero Spark jobs in every layout") {
    val r = Files.createTempDirectory("graft-zero-job").toString
    val append = AccountingFixture.ingest(spark, r, "zj")
    val expected = new CypherCompiler(new PlainParquet(append)).run(multiHop)
      .collect().toSeq
    assert(expected.size === 9)

    val pointer = append.fork("zj-pointer")
    toPointerLayout(pointer)
    // a whole-table rewrite of every table (un-ingest of an absent
    // file id) moves each into pk-hash buckets
    val whole = append.fork("zj-whole")
    RoboledgerSchema.schema.nodes.map(_.name)
      .filter(l => new java.io.File(whole.nodePath(l)).exists)
      .foreach(whole.deleteFileData(_, "absent"))
    RoboledgerSchema.schema.rels.map(_.name)
      .filter(t => new java.io.File(whole.relPath(t)).exists)
      .foreach(whole.deleteRelFileData(_, "absent"))
    assert(whole.generationOf("LineItem") === 1)
    // then a point SET: one bucket of Element gets a newer generation
    val point = whole.fork("zj-point")
    assert(point.updateNodeProps("Element",
      Seq(("elem1000", "sg")).toDF("__key", "substitution_group")) === 1L)
    assert(point.generationOf("Element") === 2)

    for ((layout, s) <- Seq("append-only" -> append, "pointer-era" -> pointer,
        "whole-table rewrite" -> whole, "bucketed after point SET" -> point)) {
      var frames = Seq.empty[DataFrame]
      val jobs = jobsDuring {
        frames = Seq(new CypherCompiler(s).run(multiHop),
          TrialBalance(s, "2024-01-01", "2024-12-31"))
        frames.foreach(_.queryExecution.executedPlan)
      }
      assert(jobs === 0, s"$layout: planning ran $jobs Spark job(s)")
      val Seq(cypher, tb) = frames
      assert(cypher.collect().toSeq === expected, layout)
      assert(tb.select("element_id", "total_debits", "total_credits")
        .collect().toSeq.sortBy(_.getString(0)) ===
        expected.map(e => Row(e.getString(0), e.getDouble(2), e.getDouble(3))),
        layout)
    }
    // time travel to the append-only generation plans without a job too
    var gen0: DataFrame = null
    assert(jobsDuring { gen0 = whole.nodeAt("Element", 0)
      gen0.queryExecution.executedPlan } === 0)
    assert(gen0.columns.toSeq === append.node("Element").columns.toSeq)
  }

  test("a table stored before a schema extension reads new columns as typed nulls, in declared order") {
    val r = Files.createTempDirectory("graft-evolve-order").toString
    def thing(extra: String) = CustomSchemaJson.parse(
      s"""{"name":"evolve","version":"1.0",
        "nodes":[{"name":"Thing","properties":[
          {"name":"identifier","type":"STRING","is_primary_key":true},
          $extra
          {"name":"v","type":"INT64"}]}],
        "relationships":[]}""")
    val v1 = new GraphStore(spark, r, "g", thing(""))
    v1.ingestNodes("Thing", Seq(("a", 1L), ("b", 2L)).toDF("identifier", "v"),
      Some("f1"))
    // the extension declares its columns BEFORE `v`: a read must follow
    // the declaration, not the stored files' column order
    val v2 = new GraphStore(spark, r, "g", thing(
      """{"name":"note","type":"STRING"},{"name":"tags","type":"LIST<STRING>"},"""))
    val declared = Seq("identifier" -> StringType, "note" -> StringType,
      "tags" -> ArrayType(StringType), "v" -> LongType, "file_id" -> StringType)
    def shape(df: DataFrame) = df.schema.fields.map(f => f.name -> f.dataType).toSeq
    val before = v2.node("Thing")
    assert(shape(before) === declared)
    val a = before.filter($"identifier" === "a").head()
    assert(a.isNullAt(1) && a.isNullAt(2) && a.getLong(3) === 1L &&
      a.getString(4) === "f1")
    // the first rewrite materializes the columns in the same order
    assert(v2.updateNodeProps("Thing", Seq(("a", "hi")).toDF("__key", "note")) === 1L)
    val after = v2.node("Thing")
    assert(shape(after) === declared)
    assert(after.orderBy("identifier").select("identifier", "note", "v")
      .collect().toSeq === Seq(Row("a", "hi", 1L), Row("b", null, 2L)))
  }

  test("time travel to generation 0 returns the pre-rewrite rows") {
    val r = Files.createTempDirectory("graft-gen0").toString
    val st = AccountingFixture.ingest(spark, r, "tt")
    val before = st.node("Element").collect().toSet
    assert(st.generationOf("Element") === 0)
    st.updateNodeProps("Element", Seq(("elem1000", "Till")).toDF("__key", "name"))
    assert(st.generationOf("Element") === 1)
    assert(st.node("Element").filter($"identifier" === "elem1000")
      .select("name").as[String].head() === "Till")
    val gen0 = st.nodeAt("Element", 0)
    assert(gen0.columns.toSeq === st.node("Element").columns.toSeq)
    assert(gen0.collect().toSet === before)
  }
}
