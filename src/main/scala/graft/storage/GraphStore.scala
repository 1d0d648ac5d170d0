package graft.storage

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType
import graft.schema.{GraphSchema, NodeDef, RelDef}

/** Per-graph storage: one parquet dataset per node label
  * (`nodes/<Label>`) and per relationship type (`rels/<TYPE>` with
  * `src`, `dst`, props) — SURVEY.md §1.1's single most important
  * mapping. Multi-tenancy = one root directory per graphId
  * (robosystems tier model, routers/graphs/query/execute.py:247-252).
  *
  * Ingest semantics mirror the reference's staging layer:
  *  - window dedup on the primary key / (src,dst)
  *    (robosystems/graph_api/core/duckdb/manager.py:111-135);
  *  - `file_id` provenance column + per-file delete
  *    (manager.py:144-228, 626);
  *  - dup-tolerant "ignore errors" COPY for globally-shared entities vs
  *    strict append for report-scoped tables
  *    (robosystems/operations/lbug/ingest.py:588-665) — expressed as an
  *    anti-join against existing keys instead of row-wise MERGE (the
  *    reference measured MERGE 40× slower; the anti-join is one shuffle).
  *
  * Scale: every write repartitions by the join key so downstream
  * pattern joins read co-partitioned data; on a real cluster these
  * datasets would be bucketed Delta/Iceberg tables — the API here is
  * path-shaped so that swap stays local to this class.
  */
final class GraphStore(
    val spark: SparkSession,
    val root: String,
    val graphId: String,
    val schema: GraphSchema,
    /** How long a mutation waits for the per-graph [[WriterLock]]
      * before rejecting loudly (the reference QUEUES writers behind
      * its per-DB pool; this is the bounded local analog). */
    val lockWaitMs: Long = 10000L,
    /** Bucket count frozen into a table's `_bucketed` marker at its
      * FIRST rewrite (tables already bucketed keep their marker's
      * count regardless of this value). Size it ≈ table bytes /
      * target file size: a point write's cost is one bucket's
      * read+rewrite, so this knob IS the point-write granularity —
      * PointWriteScale measures the trade. Default sized for test
      * graphs. */
    val pkBuckets: Int = 16,
    /** How many generations of each table (and bucket) survive a
      * commit: the newest `retainGenerations` stay on disk, older
      * ones vacuum. This IS the reader lease — readers take no lock,
      * so a reader's snapshot stays scannable for exactly the next
      * (retainGenerations − 1) commits to its table. A reader OLDER
      * than that sees one of two LOUD failures, never silent data: a
      * plan already executing hits file-not-found task failures when
      * vacuum deletes under it; a fresh time-travel read of an
      * evicted generation throws "not retained (vacuumed?)" at
      * planning ([[bucketDirsIn]]). Size it to ceil(longest-running
      * query / shortest commit interval) + 1; the default 2
      * (current + previous) is the reference's swap-and-keep-one
      * behavior. */
    val retainGenerations: Int = 2) extends GraphSource {

  require(retainGenerations >= 2,
    "retainGenerations must be >= 2 (the current generation plus at " +
      "least one predecessor for in-flight readers)")

  val FileIdCol = "file_id"

  def nodePath(label: String): String = s"$root/$graphId/nodes/$label"
  def relPath(tpe: String): String = s"$root/$graphId/rels/$tpe"

  private def exists(path: String): Boolean =
    new java.io.File(path).exists()

  /** Every mutating entry point runs under the per-graph exclusive
    * [[WriterLock]] (single-writer contract, reference pool.py parity;
    * reentrant so mutators can compose). Readers take no lock: the
    * rename-aside swap keeps a table readable at every instant. */
  private def mutate[A](body: => A): A =
    WriterLock.withLock(s"$root/$graphId", lockWaitMs)(body)

  // ---- snapshot generations ----------------------------------------------
  //
  // A table starts as plain parquet files at its path (the append-only
  // layout). The first REWRITE (delete / SET / un-ingest) moves it to
  // generation dirs: the new state lands in `_gen-<n>` (underscore ⇒
  // invisible to any legacy directory listing), then the GRAPH-level
  // `_manifest` swaps atomically naming the new generation — for a
  // multi-table write, every table's new generation in ONE swap —
  // then generations older than the PREVIOUS one are vacuumed.
  // Readers resolve the manifest at DataFrame construction, so an
  // open scan keeps its own snapshot's files across one subsequent
  // rewrite — the rename-aside scheme this replaces deleted the old
  // files immediately, breaking exactly that reader. Retention is
  // current + previous (bounded storage); a snapshot older than that
  // fails loudly at scan, not silently. This is the poor-man's log
  // head of a transactional table format: on Delta/Iceberg the
  // manifest is the commit log, retention is VACUUM, and [[nodeAt]]
  // is time travel.
  //
  // Every layout — append-only root, pointer-era generation dir,
  // pk-hash buckets, and every time-travel generation — is read with
  // the DECLARED schema (plus `file_id`), never an inferred one:
  // parquet resolves the requested columns by name per file, so a
  // table stored before a schema extension (installed onto an
  // existing graph, as the reference composes extensions —
  // schemas/manager.py:52) reads the new columns as typed nulls until
  // its next rewrite materializes them, every layout yields the same
  // column order, and planning a read runs no Spark job (schema
  // inference is one footer-reading job per table — measured as most
  // of a served read's compile time).

  private def pointerFile(path: String) = new java.io.File(path, "_current")

  // ---- graph-level manifest ----------------------------------------------
  //
  // A chain of immutable `_manifest.v<N>` files at the GRAPH root;
  // the highest N is the head, and each file names every rewritten
  // table's active generation DIR (`nodes/Thing=_gen-3-<tok>` lines —
  // the token is per-writer random, so two writers racing for the
  // same generation number never share a directory). It is the
  // single commit point: a multi-table Cypher write (DETACH DELETE
  // touching a node table plus its relationship tables) lands every
  // table's next `_gen-<n>` dir first, then publishes `_manifest.
  // v<N+1>` ONCE via conditional put ([[CasFiles.putIfAbsent]]) — a
  // crash at any step leaves the head naming only old generations, so
  // readers see the old CONSISTENT graph, never a half-applied one;
  // a CONCURRENT writer landing v<N+1> first makes this commit LOSE
  // LOUDLY ([[CommitConflictException]]) instead of silently dropping
  // the winner's entries. This is the graph-scoped analog of a
  // transactional table format's log head (Delta's _delta_log/<N>.json
  // under "put-if-absent"), chosen over rename-onto-a-fixed-name
  // because object stores have conditional PUT but not atomic rename.
  // Pre-versioned layouts are honored on read: a legacy single-file
  // `_manifest` serves as version 0's content, and per-table
  // `_current` pointers remain the last fallback; both retire as
  // tables are next rewritten.

  private def graphDir: String = s"$root/$graphId"
  private def legacyManifestFile = new java.io.File(graphDir, "_manifest")
  private def manifestVersionFile(v: Int) =
    new java.io.File(graphDir, s"_manifest.v$v")
  private def tableKey(path: String): String = path.stripPrefix(graphDir + "/")

  /** Manifest versions kept behind the head (debugging/forensics —
    * readers only ever resolve the head; data-file retention is the
    * separate current+previous generation rule). */
  private val ManifestKeep = 8

  private def listManifestVersions(): Seq[Int] =
    Option(new java.io.File(graphDir).list()).toSeq.flatten
      .filter(_.matches("_manifest\\.v\\d+"))
      .map(_.stripPrefix("_manifest.v").toInt)

  /** Manifest values are full generation DIR NAMES —
    * `_gen-<n>-<tok>` with a per-writer random token (pre-upgrade
    * manifests' plain `_gen-<n>` parse identically). Unique names make
    * racing writers physically disjoint: writer B's parquet Overwrite
    * can never clobber the directory writer A just published under the
    * same generation number, and a CAS loser's rollback only ever
    * deletes its own build. */
  private def parseManifest(f: java.io.File): Map[String, String] = {
    if (!f.exists) return Map.empty
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .linesIterator.map(_.trim).filter(_.nonEmpty).map { l =>
        val i = l.lastIndexOf('=')
        require(i > 0, s"malformed manifest line in $f: $l")
        l.substring(0, i) -> l.substring(i + 1)
      }.toMap
  }

  /** Numeric generation of a `_gen-<n>[-<tok>]` dir name. */
  private def genNum(name: String): Int = {
    val n = name.stripPrefix("_gen-").takeWhile(_.isDigit)
    require(n.nonEmpty, s"malformed generation dir name: $name")
    n.toInt
  }

  private def newGenName(n: Int): String =
    s"_gen-$n-${java.util.UUID.randomUUID().toString.replace("-", "").take(12)}"

  /** The manifest head: (version, table→generation dir name). Version
    * 0 = no versioned manifest committed yet (content then comes from
    * the legacy single-file `_manifest`, if present). */
  private def readManifestHead(): (Int, Map[String, String]) = {
    val vs = listManifestVersions()
    if (vs.isEmpty) (0, parseManifest(legacyManifestFile))
    else { val v = vs.max; (v, parseManifest(manifestVersionFile(v))) }
  }

  private def readManifest(): Map[String, String] = readManifestHead()._2

  /** Publish `m` as the next manifest version after `baseVersion`.
    * Throws [[CommitConflictException]] when another writer committed
    * that version first — the caller's generation writes are then
    * orphans and the mutation must be retried from the new head. */
  private def commitManifest(baseVersion: Int, m: Map[String, String]): Unit = {
    val body = m.toSeq.sortBy(_._1)
      .map { case (k, n) => s"$k=$n" }.mkString("", "\n", "\n")
    if (!CasFiles.putIfAbsent(
        manifestVersionFile(baseVersion + 1), body.getBytes("UTF-8")))
      throw new CommitConflictException(graphId, baseVersion + 1)
    // the head advanced past the legacy single-file manifest: retire
    // it (crash-safe — versioned files take precedence on read)
    legacyManifestFile.delete()
    listManifestVersions().filter(_ <= baseVersion - ManifestKeep)
      .foreach(v => manifestVersionFile(v).delete())
  }

  /** The table's active generation dir name under manifest `m`, or
    * None for the legacy/append-only layout (generation 0) AND for
    * bucketed tables (whose marker names no single dir). Resolution
    * order: graph manifest, then the pre-manifest per-table `_current`
    * pointer. */
  private def currentGenName(m: Map[String, String], path: String): Option[String] =
    m.get(tableKey(path)).orElse(legacyGenName(path))
      .filterNot(_.startsWith("_bucketed-"))

  /** Current LOGICAL generation number: 0 = the legacy/append-only
    * layout; a bucketed table's marker generation counts every
    * rewrite, whole-table or point. */
  private def currentGen(path: String): Int =
    readManifest().get(tableKey(path)).orElse(legacyGenName(path)) match {
      case Some(v) => parseBucketMarker(v).map(_._1).getOrElse(genNum(v))
      case None => 0
    }

  /** Pre-manifest fallback: the per-table `_current` pointer. */
  private def legacyGenName(path: String): Option[String] = {
    val p = pointerFile(path)
    if (!p.exists) None
    else Some(new String(java.nio.file.Files.readAllBytes(p.toPath),
      "UTF-8").trim)
  }

  // ---- pk-hash bucketed tables --------------------------------------------
  //
  // The FIRST rewrite of a table splits it into `pkBuckets` pk-hash
  // buckets — `<table>/pkb=<b>/_gen-<n>-<tok>/` — each an
  // independently-generationed sub-table under the same graph
  // manifest (`<table>/pkb=<b>=_gen-<n>-<tok>` lines, plus a
  // `<table>=_bucketed-<g>-<B>` marker carrying the table's LOGICAL
  // generation and its frozen bucket count). A point write —
  // `MATCH (n {identifier:$id}) SET n.status=…`, the platform's most
  // common write shape (reference row-update semantics,
  // graph_api/core/ladybug/engine.py:114) — then reads and rewrites
  // ONLY the buckets its keys hash into: at 100 TB a single-key SET
  // touches 1/B of the table instead of all of it, and untouched
  // buckets are not copied, linked, or even listed. All touched
  // buckets + the marker still swap in ONE manifest commit, so the
  // all-or-nothing guarantee and snapshot retention are unchanged;
  // time travel resolves a logical generation through the retained
  // manifest chain to that version's bucket dirs.

  private def bucketMarker(g: Int, b: Int) = s"_bucketed-$g-$b"

  /** (logical generation, bucket count) if `v` is a bucketed-table
    * marker. */
  private def parseBucketMarker(v: String): Option[(Int, Int)] =
    if (!v.startsWith("_bucketed-")) None
    else {
      val p = v.stripPrefix("_bucketed-").split("-")
      Some((p(0).toInt, p(1).toInt))
    }

  private def bucketPath(path: String, b: Int): String = s"$path/pkb=$b"

  /** The pk-hash bucket expression — `pmod(xxhash64(key), B)` over the
    * STRING form of the key (pk types vary across labels; the string
    * cast makes the hash stable under schema-declared int widths). */
  private def bucketExpr(keyCol: Column, b: Int): Column =
    pmod(xxhash64(keyCol.cast("string")), lit(b.toLong))

  /** The key column that buckets a table: the declared primary key for
    * node tables, `src` for relationship tables. */
  private def bucketKeyCol(path: String): String = {
    val key = tableKey(path)
    if (key.startsWith("nodes/"))
      schema.node(key.stripPrefix("nodes/")).primaryKey
    else "src"
  }

  /** Bucketed-table state of `path` in manifest `m`: Some((logical
    * generation, bucket count)) once the first rewrite bucketed it. */
  private def bucketStateIn(m: Map[String, String], path: String): Option[(Int, Int)] =
    m.get(tableKey(path)).flatMap(parseBucketMarker)

  /** Physical generation number of a `_gen-<n>-<token>` dir name. */
  private def genOf(dirName: String): Option[Int] =
    if (!dirName.startsWith("_gen-")) None
    else dirName.stripPrefix("_gen-").split("-").headOption.flatMap(_.toIntOption)

  /** Active data dirs of a BUCKETED table under manifest `m`, bucket
    * index included. Empty buckets are DISTINGUISHABLE from vacuumed
    * ones: commits create the generation dir even when a bucket holds
    * no rows, so a manifest-named dir that is MISSING normally means
    * the generation was vacuumed (or the layout corrupted) and the
    * read fails loudly instead of silently returning a table missing
    * that bucket's rows. The one legitimate missing-dir case is a
    * PRE-UPGRADE empty bucket: the old commit code wrote no dir for a
    * bucket its rewrite left empty, while retention could keep the
    * previous generation's data dir alongside. The two are told apart
    * by GENERATION NUMBER — the commit protocol creates every named
    * dir before the manifest CAS and vacuum only removes generations
    * OLDER than the newest, so if every retained `_gen-` dir in the
    * bucket is OLDER than the manifest-named one the named generation
    * can only be a pre-upgrade empty bucket (skip it: its state IS
    * empty), whereas any retained dir AT or PAST the named generation
    * proves the named dir itself was removed (a true vacuum of a
    * still-referenced read — throw). */
  private def bucketDirsIn(
      m: Map[String, String], path: String, nB: Int): Seq[(Int, java.io.File)] =
    (0 until nB).flatMap { b =>
      m.get(tableKey(bucketPath(path, b))).flatMap { n =>
        val d = new java.io.File(s"${bucketPath(path, b)}/$n")
        if (d.isDirectory) Some(b -> d)
        else {
          val retained = Option(new java.io.File(bucketPath(path, b)).list())
            .toSeq.flatten
          val preUpgradeEmpty = genOf(n) match {
            case Some(g) => retained.flatMap(genOf).forall(_ < g)
            case None    => !retained.exists(_.startsWith("_gen-"))
          }
          if (preUpgradeEmpty) {
            // ADVICE r13: this branch also catches out-of-band loss of
            // a bucket's NEWEST gen dir (partial sync, manual rm) when
            // only older dirs remain — indistinguishable by layout
            // alone from a pre-upgrade empty bucket, so say what was
            // concluded instead of staying silent
            System.err.println(
              s"[graft] $d named by the manifest is missing with only " +
                "older generations retained - reading the bucket as a " +
                "PRE-UPGRADE EMPTY bucket; if this table was never " +
                "written by a pre-r12 build, the dir was lost out of " +
                "band and this bucket's rows are GONE")
            None
          } else throw new IllegalArgumentException(
            s"generation dir $d named by the manifest is not retained " +
              "(vacuumed?) — refusing a silently-partial read")
        }
      }
    }

  /** A generation dir's data files, used as the reader's ROOT paths:
    * handing Spark the `_`-prefixed dir itself trips its hidden-path
    * check and WARN-spams "All paths were ignored" on every scan
    * (reads still worked — explicit roots are honored — but the log
    * noise buried real warnings). */
  private def dataFilePaths(d: java.io.File): Seq[String] =
    Option(d.listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
      .map(_.toString)

  /** Read a table's active state regardless of layout (append-only
    * root, whole-table generation, or pk-hash buckets) with the
    * declared schema — see the snapshot-generations note above.
    * `onlyBuckets` restricts a bucketed read to the named buckets —
    * the point-write lever: the untouched (B − t) buckets are never
    * listed, let alone scanned. */
  private def readTableState(
      path: String, declared: StructType,
      onlyBuckets: Option[Seq[Int]] = None): DataFrame = {
    val m = readManifest()
    val paths = bucketStateIn(m, path) match {
      // ONE multi-path scan, not a per-bucket union: the plan stays a
      // single FileScan — at a production bucket count a union of B
      // scans is B listings and B-way planning for every read
      case Some((_, nB)) =>
        bucketDirsIn(m, path, nB)
          .filter { case (b, _) => onlyBuckets.forall(_.contains(b)) }
          .flatMap { case (_, d) => dataFilePaths(d) }
      case None if !exists(path) => Nil
      case None => currentGenName(m, path) match {
        case None => Seq(path) // append-only root
        // pointer-era unbucketed generation dir: same hidden-name
        // story — read its files, not the `_gen-` dir
        case Some(n) => dataFilePaths(new java.io.File(s"$path/$n"))
      }
    }
    scanDeclared(paths, declared)
  }

  /** A scan of `paths` with the declared schema (plus `file_id`), or
    * an empty frame of that schema when there is nothing to scan. */
  private def scanDeclared(paths: Seq[String], declared: StructType): DataFrame =
    if (paths.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        withFileId(declared))
    else spark.read.schema(withFileId(declared)).parquet(paths: _*)

  /** Distinct buckets the keys of `keys` hash into, computed
    * DRIVER-SIDE over the collected key strings (keys are driver-small
    * by the updateNodeProps contract): one narrow collect instead of
    * a distinct-shuffle job — a visible slice of a point write's wall,
    * which is job-floor-bound, not data-bound. The hash is the exact
    * XXH64 replica of [[bucketExpr]] (seed 42 over the string bytes,
    * the Bm25Index.bucketOf pattern); a drift between the two would
    * trip the commitTables stray-bucket guard loudly, not lose rows. */
  private def touchedBuckets(keys: DataFrame, keyCol: String, nB: Int): Seq[Int] =
    bucketsOfKeys(
      keys.select(col(keyCol).cast("string")).collect()
        .map(_.getString(0)).toSeq, nB)

  /** Driver-side bucket set of already-collected key strings (tables
    * can carry different frozen bucket counts, so the hash re-runs per
    * nB over one collect). */
  private def bucketsOfKeys(keys: Seq[String], nB: Int): Seq[Int] =
    keys.map { s =>
      // a NULL key hashes to the seed in the engine's xxhash64 —
      // replicate rather than NPE (a null pk row is pathological but
      // must route to the same bucket the stage write puts it in)
      val h = if (s == null) 42L
        else org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
          org.apache.spark.unsafe.types.UTF8String.fromString(s), 42L)
      val m = (h % nB).toInt
      if (m < 0) m + nB else m
    }.distinct.sorted

  // ---- readers -----------------------------------------------------------

  def node(label: String): DataFrame =
    readTableState(nodePath(label), schema.node(label).structType)

  def rel(tpe: String): DataFrame =
    readTableState(relPath(tpe), schema.rel(tpe).structType)

  /** Logical generation a manifest value denotes — a bucketed marker's
    * counter or a `_gen-` name's number. */
  private def logicalGenOf(v: String): Int =
    parseBucketMarker(v).map(_._1).getOrElse(genNum(v))

  /** The on-disk dirs holding logical `generation` (≥ 1) of a table,
    * if retained. Names carry writer-unique tokens, so resolution
    * prefers what a retained manifest recorded (authoritative — never
    * an orphaned loser's dir): the first retained manifest, newest
    * first, whose entry for the table has that logical generation
    * supplies the dir name — or, for a bucketed marker, that SAME
    * manifest version's bucket entries (the bucket dirs as of that
    * commit; retention keeps each touched bucket's previous dir, and
    * untouched buckets still point at their then-current dirs). Falls
    * back to a directory listing for pointer-era `_gen-<n>` layouts. */
  private def stateDirsAt(path: String, generation: Int): Seq[java.io.File] = {
    val key = tableKey(path)
    val manifests =
      (listManifestVersions().sorted.reverse.map(manifestVersionFile) :+
        legacyManifestFile).map(parseManifest)
    manifests.iterator
      .flatMap(m => m.get(key).map(m -> _))
      .find { case (_, v) => logicalGenOf(v) == generation }
      .map { case (m, v) =>
        parseBucketMarker(v) match {
          case Some((_, nB)) => bucketDirsIn(m, path, nB).map(_._2)
          case None =>
            Seq(new java.io.File(s"$path/$v")).filter(_.isDirectory)
        }
      }
      .getOrElse {
        legacyGenName(path).filter(genNum(_) == generation)
          .map(n => new java.io.File(s"$path/$n")).filter(_.isDirectory)
          .orElse(Option(new java.io.File(path).listFiles()).toSeq.flatten
            .find(f => f.isDirectory && f.getName.startsWith("_gen-") &&
              genNum(f.getName) == generation)).toSeq
      }
  }

  private def tableAt(
      path: String, declared: StructType, generation: Int,
      what: String): DataFrame = {
    if (generation == 0) {
      // the append-only root is generation 0; vacuumed once it is two
      // rewrites stale
      val hasData = Option(new java.io.File(path).listFiles()).toSeq.flatten
        .exists(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      require(hasData && generation <= currentGen(path),
        s"generation 0 of $what is not retained " +
          s"(current ${currentGen(path)}, retention keeps one previous)")
      scanDeclared(Seq(path), declared)
    } else {
      val dirs = stateDirsAt(path, generation)
      require(dirs.nonEmpty && generation <= currentGen(path),
        s"generation $generation of $what is not retained " +
          s"(current ${currentGen(path)}, retention keeps one previous)")
      // appended files carry a g<N> tag (appendBucketed): include only
      // those appended while the table's logical generation was ≤ the
      // requested one — shared bucket dirs would otherwise leak LATER
      // appends into this generation's read. Untagged files are
      // rewrite outputs (dir membership already scopes them) or
      // pre-tag legacy appends.
      val AppendTag = "^g(\\d+)-.*".r
      val files = dirs.flatMap(dataFilePaths).filter { p =>
        new java.io.File(p).getName match {
          case AppendTag(g) => g.toInt <= generation
          case _ => true
        }
      }
      scanDeclared(files, declared)
    }
  }

  /** Time-travel read of a RETAINED generation (current or previous;
    * older ones are vacuumed and fail loudly). Generation 0 is the
    * pre-first-rewrite append-only layout. */
  def nodeAt(label: String, generation: Int): DataFrame =
    tableAt(nodePath(label), schema.node(label).structType, generation, label)

  /** [[nodeAt]]'s relationship-table counterpart. */
  def relAt(tpe: String, generation: Int): DataFrame =
    tableAt(relPath(tpe), schema.rel(tpe).structType, generation, s"rel $tpe")

  /** The table's current snapshot generation (0 until first rewrite). */
  def generationOf(label: String): Int = currentGen(nodePath(label))

  /** [[generationOf]]'s relationship-table counterpart. */
  def relGenerationOf(tpe: String): Int = currentGen(relPath(tpe))

  private def withFileId(st: StructType): StructType =
    if (st.fieldNames.contains(FileIdCol)) st
    else st.add(FileIdCol, org.apache.spark.sql.types.StringType)

  // ---- schema conformance ------------------------------------------------

  /** Conform an arbitrary incoming frame to the declared table schema:
    * add missing columns as typed nulls, cast present ones, drop
    * extras, order canonically (adapters/sec/processors/
    * schema.py:157-218 create_schema_compatible_dataframe). */
  def conform(df: DataFrame, st: StructType): DataFrame = {
    val cols = st.fields.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Window dedup on key columns, deterministic keep: first row by the
    * remaining ORDERABLE columns (manager.py:111-120 ROW_NUMBER …
    * WHERE rn=1). MAP-typed columns have no sort order in Catalyst and
    * are excluded from the tie-break; duplicates distinguished ONLY by
    * a map value are therefore an arbitrary-but-single keep, same as
    * the reference's unordered ROW_NUMBER. */
  def dedup(df: DataFrame, keys: Seq[String]): DataFrame = {
    val orderable = df.schema.fields
      .filterNot(f => keys.contains(f.name))
      .filter(f => org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(f.dataType))
      .map(f => col(f.name)).toIndexedSeq
    val orderCols = if (orderable.nonEmpty) orderable
      else Seq(lit(1)) // keys-only frame: any row of a dup group is THE row
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  // ---- ingest ------------------------------------------------------------

  /** Ingest node rows. `ignoreErrors = true` is the reference's
    * dup-tolerant COPY for globally-shared entities: rows whose key
    * already exists are silently dropped (anti-join). `false` is the
    * strict report-scoped append. */
  def ingestNodes(
      label: String,
      df: DataFrame,
      fileId: Option[String] = None,
      ignoreErrors: Boolean = false): Long = mutate {
    val d = schema.node(label)
    val pk = d.primaryKey
    val conformed = conform(df, d.structType)
      .withColumn(FileIdCol, lit(fileId.orNull).cast("string"))
    val deduped = dedup(conformed, Seq(pk))
    val toWrite =
      if (exists(nodePath(label))) {
        val existing = node(label).select(pk)
        if (ignoreErrors) deduped.join(existing, Seq(pk), "left_anti")
        else {
          // strict mode mirrors the reference's plain COPY: duplicate
          // primary keys fail loudly instead of silently fanning out
          // every future join on this label (ingest.py:596-665)
          val clash = deduped.join(existing, Seq(pk), "left_semi").limit(1)
          if (!clash.isEmpty)
            throw new IllegalArgumentException(
              s"duplicate primary key(s) in strict ingest into $label " +
                s"(e.g. ${clash.collect()(0).getAs[String](pk)}); " +
                "use ignoreErrors=true for dup-tolerant COPY")
          deduped
        }
      } else deduped
    writeCounted(toWrite.repartition(col(pk)), nodePath(label))
  }

  /** Write with the row count riding the write action itself as an
    * `Observation` (r17 — was persist → count() → write, two job
    * floors per mutation for one figure). The historical hazard the
    * count-first shape guarded ("counting after the append re-reads
    * `path`, sees the just-written keys, and under-counts — observed
    * as MERGE-rel reporting 0 created") was a SECOND action planned
    * after the mutation; the observation is collected DURING the one
    * write action, whose scan file-list snapshot predates every file
    * the write adds, so the count is exactly the rows written. The
    * persist is gone with the second consumer. */
  private def writeCounted(df: DataFrame, path: String): Long = {
    val obs = org.apache.spark.sql.Observation(
      s"graft-wc-${java.util.UUID.randomUUID()}")
    val observed = df.observe(obs, count(lit(1)).as("n"))
    // appends land in the ACTIVE generation: an open reader's file
    // snapshot simply doesn't include the new files (never broken by
    // them), and the next rewrite carries them forward
    val m = readManifest()
    bucketStateIn(m, path) match {
      case Some((g, nB)) => appendBucketed(observed, path, g, nB, m)
      // unbucketed: the active generation dir, or the append-only root
      case None => observed.write.mode(SaveMode.Append)
        .option("parquet.block.size", GraphStore.RowGroupBytes)
        .parquet(currentGenName(m, path).fold(path)(n => s"$path/$n"))
    }
    obs.get.getOrElse("n", 0L) match {
      case l: java.lang.Long => l.longValue
      case _ => 0L
    }
  }

  /** Append into a BUCKETED table: one partitioned stage write, then
    * each partition's files move into that bucket's active generation
    * dir (new unique file names — an open reader is never broken).
    * Moved files carry a `g<tableGen>-` name tag: an UNTOUCHED
    * bucket's dir is physically shared by several retained manifests,
    * so without the tag an append made AFTER a rewrite would leak
    * backward into older generations' time-travel reads (the
    * randomized mutation-model differential caught exactly that);
    * [[tableAt]] filters tagged files to tag ≤ the requested
    * generation, restoring the end-of-tenure semantics the
    * whole-table layout had for free. */
  private def appendBucketed(
      df: DataFrame, path: String, tableGen: Int, nB: Int,
      m: Map[String, String]): Unit = {
    val stage = new java.io.File(path, s"_stage-$tableGen-" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12))
    df.withColumn("__pkb", bucketExpr(col(bucketKeyCol(path)), nB))
      // repartition ON the partition column: one open parquet writer
      // per task. Un-repartitioned, every task buffers up to nB
      // writers' row groups at once — measured OOM at a 13 GB table
      // on the local 8 GB JVM (32 tasks × 16 buffering writers)
      .repartition(nB, col("__pkb"))
      .write.mode(SaveMode.Overwrite).partitionBy("__pkb")
      .option("parquet.block.size", GraphStore.RowGroupBytes)
      .parquet(stage.toString)
    (0 until nB).foreach { b =>
      val src = new java.io.File(stage, s"__pkb=$b")
      if (src.isDirectory) {
        val name = m.getOrElse(tableKey(bucketPath(path, b)),
          throw new IllegalStateException(
            s"bucketed table $path missing manifest entry for bucket $b"))
        val dst = new java.io.File(s"${bucketPath(path, b)}/$name")
        dst.mkdirs()
        Option(src.listFiles()).toSeq.flatten
          .filter(f => f.isFile && !f.getName.startsWith("_") &&
            !f.getName.startsWith("."))
          .foreach { f =>
            java.nio.file.Files.move(f.toPath,
              new java.io.File(dst, s"g$tableGen-${f.getName}").toPath)
          }
      }
    }
    rmTree(stage)
  }

  /** Ingest relationship rows arriving with `from`/`to` columns,
    * renamed to `src`/`dst` (manager.py:124-135), deduped on the pair.
    * `ignoreExisting = true` is the MERGE-relationship semantics:
    * endpoint pairs already stored are silently skipped (anti-join,
    * one shuffle — the same shape as the node ignore-errors COPY). */
  def ingestRels(
      tpe: String,
      df: DataFrame,
      fileId: Option[String] = None,
      ignoreExisting: Boolean = false): Long = mutate {
    val d = schema.rel(tpe)
    val renamed = df
      .withColumnsRenamed(Map("from" -> "src", "to" -> "dst"))
    val conformed = conform(renamed, d.structType)
      .withColumn(FileIdCol, lit(fileId.orNull).cast("string"))
    val deduped = dedup(conformed, Seq("src", "dst"))
    val toWrite =
      if (ignoreExisting && exists(relPath(tpe)))
        deduped.join(rel(tpe).select("src", "dst"), Seq("src", "dst"), "left_anti")
      else deduped
    writeCounted(toWrite.repartition(col("src")), relPath(tpe))
  }

  /** Multi-file ingest with per-file provenance then global dedup
    * (manager.py:144-228: per-file SELECT + literal file_id, UNION ALL,
    * dedup). */
  def ingestNodeFiles(label: String, files: Seq[(String, String)]): Long = mutate {
    val d = schema.node(label)
    val unioned = files.map { case (path, fid) =>
      conform(spark.read.parquet(path), d.structType)
        .withColumn(FileIdCol, lit(fid))
    }.reduce(_ unionByName _)
    writeCounted(dedup(unioned, Seq(d.primaryKey)).repartition(col(d.primaryKey)),
      nodePath(label))
  }

  /** Incremental un-ingest by provenance (manager.py:626
    * delete_file_data). Parquet has no transactional DELETE: rewrite to
    * a staging dir then swap — on Delta this is `DELETE WHERE`. */
  def deleteFileData(label: String, fileId: String): Unit =
    mutate { deleteByFileId(nodePath(label),
      schema.node(label).structType, fileId) }

  /** Same incremental un-ingest for relationship tables. */
  def deleteRelFileData(tpe: String, fileId: String): Unit =
    mutate { deleteByFileId(relPath(tpe),
      schema.rel(tpe).structType, fileId) }

  private def deleteByFileId(
      path: String, declared: StructType, fileId: String): Unit = {
    if (!exists(path)) return
    // Read the ACTIVE state, not the table root: once a prior
    // SET/DELETE has moved the table into generation layout, the root
    // holds only stale gen-0 legacy files (or none after vacuum) and a
    // root read would silently rewrite from the pre-rewrite snapshot.
    // A file's rows hash across every bucket, so this rewrite is
    // whole-table by nature (touched = all).
    val kept = readTableState(path, declared).filter(
      col(FileIdCol).isNull || col(FileIdCol) =!= fileId)
    rewriteInPlace(path, kept)
  }

  /** Transactional rewrite of one or more tables as ONE graph commit
    * (whole-table form: see [[commitTables]] for the point-write
    * form). The FIRST rewrite of a table BUCKETIZES it. */
  private[graft] def commitGenerations(writes: Seq[(String, DataFrame)]): Unit =
    commitTables(writes.map { case (p, next) => (p, next, None) })

  /** Transactional rewrite of one or more tables as ONE graph commit:
    * each write is `(path, next, touchedBuckets)` where `next` holds
    * the FULL new state of the touched scope — the whole table when
    * `touchedBuckets` is None (which also BUCKETIZES a table on its
    * first rewrite), or exactly the named buckets' rows for a point
    * write against an already-bucketed table. Per table, ONE Spark job
    * stages the new state partitioned by pk-hash bucket, each touched
    * bucket's partition moves into that bucket's next `_gen-<n>-<tok>`
    * dir (driver-side rename — at 100 TB on object storage the stage
    * write lands per-bucket directly), then the graph `_manifest`
    * swaps atomically naming every new bucket generation plus each
    * table's bumped `_bucketed` marker at once, then retention
    * vacuums. A failure at any step — including between two tables'
    * stage writes — leaves the manifest untouched, so readers see the
    * old state of EVERY table (all-or-nothing across the graph, the
    * reference's `execute_transaction` guarantee,
    * graph_api/interfaces/engine.py:65-81); readers holding the
    * previous snapshot keep scanning their own files. On
    * Delta/Iceberg this whole method is one transactional commit. */
  private[graft] def commitTables(
      writes: Seq[(String, DataFrame, Option[Seq[Int]])]): Unit = mutate {
    // `mutate` is reentrant, so production callers already inside the
    // per-graph WriterLock just re-enter; a direct caller (tests, a
    // future maintenance tool) acquires it here — the single-writer
    // invariant is enforced where the manifest read-modify-write
    // actually happens, not by caller convention.
    require(writes.map(_._1).distinct.size == writes.size,
      "a graph commit may rewrite each table at most once")
    // ONE read of the head: base version for the optimistic commit
    // below, base generations for the new dirs (a per-table re-read
    // could straddle a foreign writer's commit)
    val (baseVersion, baseManifest) = readManifestHead()
    val created = scala.collection.mutable.ArrayBuffer[java.io.File]()
    val entries = scala.collection.mutable.LinkedHashMap[String, String]()
    val vacuums = scala.collection.mutable.ArrayBuffer[(String, Int)]()
    writes.foreach { case (path, next, touchedOpt) =>
      val (tableGen, nB) = baseManifest.get(tableKey(path))
        .orElse(legacyGenName(path))
        .map(v => parseBucketMarker(v).getOrElse((genNum(v), pkBuckets)))
        .getOrElse((0, pkBuckets))
      val newGen = tableGen + 1
      val touched = touchedOpt.getOrElse(0 until nB)
      // ONE partitioned stage write per table; bucket dirs then form
      // by rename. Writer-unique names throughout: a concurrent writer
      // racing for the same generation numbers builds under different
      // tokens, so nothing here can touch data another commit might
      // publish, and the conflict rollback below deletes OURS alone.
      val stage = new java.io.File(path, s"_stage-$newGen-" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12))
      val staged0 = next.withColumn("__pkb",
        bucketExpr(col(bucketKeyCol(path)), nB))
      // writers-per-task bound: a whole-table stage would otherwise
      // have every task buffer up to nB parquet writers' row groups at
      // once (measured OOM at a 13 GB table on the local 8 GB JVM) —
      // repartition ON the bucket so each task holds one writer. A
      // POINT write's rows span only its touched buckets, so few
      // writers per task already — skip the shuffle, it would cost
      // more than the write
      val staged = if (touched.size > 4) staged0.repartition(nB, col("__pkb"))
        else staged0
      staged.write.mode(SaveMode.Overwrite).partitionBy("__pkb")
        .option("parquet.block.size", GraphStore.RowGroupBytes)
        .parquet(stage.toString)
      // a point write whose `next` holds rows hashing OUTSIDE the
      // declared touched scope would silently drop them with the
      // stage below — fail loudly instead (misuse guard on the
      // private[graft] API; updateNodeProps can't trip it because SET
      // may not reassign the primary key)
      val stray = Option(stage.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("__pkb="))
        .map(_.getName.stripPrefix("__pkb=").toInt)
        .filterNot(touched.contains)
      if (stray.nonEmpty) {
        rmTree(stage)
        throw new IllegalStateException(
          s"point write to $path declared touched buckets " +
            s"${touched.mkString(",")} but staged rows hashing into " +
            s"${stray.sorted.mkString(",")} — refusing to drop them")
      }
      touched.foreach { b =>
        val bPath = bucketPath(path, b)
        val bGen = baseManifest.get(tableKey(bPath)).map(genNum).getOrElse(0) + 1
        val name = newGenName(bGen)
        val src = new java.io.File(stage, s"__pkb=$b")
        val dst = new java.io.File(s"$bPath/$name")
        dst.getParentFile.mkdirs()
        if (src.isDirectory) java.nio.file.Files.move(src.toPath, dst.toPath)
        // no partition ⇒ the bucket is now EMPTY: the generation dir
        // is still CREATED so readers can tell an empty bucket (dir
        // present, no files) from a vacuumed one (dir gone → loud)
        else dst.mkdirs()
        created += dst
        entries += tableKey(bPath) -> name
        vacuums += bPath -> (bGen - (retainGenerations - 1))
      }
      rmTree(stage)
      entries += tableKey(path) -> bucketMarker(newGen, nB)
      vacuums += path -> (newGen - (retainGenerations - 1))
    }
    try commitManifest(baseVersion, baseManifest ++ entries)
    catch {
      case e: CommitConflictException =>
        // the data dirs moved into place above were never published
        // and their names are OURS ALONE (unique tokens — the CAS
        // winner's dirs are untouchable by construction) — remove the
        // orphans (best-effort; a crash here is also safe, vacuum
        // reclaims stale-numbered orphans as generations advance) and
        // surface the loud retryable conflict
        created.foreach(rmTree)
        throw e
    }
    writes.foreach { case (path, _, _) =>
      // the manifest is authoritative now — retire the pre-manifest
      // pointer so a stale `_current` can't shadow future fallbacks
      pointerFile(path).delete()
    }
    vacuums.foreach { case (p, keepFrom) => vacuum(p, keepFrom) }
  }

  private def rmTree(f: java.io.File): Unit = {
    def rm(g: java.io.File): Boolean =
      Option(g.listFiles()).forall(_.forall(rm)) && g.delete()
    rm(f); ()
  }

  private def rewriteInPlace(path: String, next: DataFrame): Unit =
    commitGenerations(Seq(path -> next))

  /** Remove generations below `keepFrom` (and, once the append-only
    * root data is two generations stale, its legacy files). Every
    * delete is checked: a silent failure would strand files a legacy
    * listing could someday see. */
  private def vacuum(path: String, keepFrom: Int): Unit = {
    def rm(f: java.io.File): Boolean =
      Option(f.listFiles()).forall(_.forall(rm)) && f.delete()
    val dir = new java.io.File(path)
    Option(dir.listFiles()).toSeq.flatten.foreach { f =>
      val stale =
        if (f.getName.startsWith("_gen-"))
          genNum(f.getName) < keepFrom
        else if (f.getName.startsWith("_stage-"))
          // a crashed writer's stage (live stages are removed inline
          // within the committing writer's lock scope)
          f.getName.stripPrefix("_stage-").takeWhile(_.isDigit).toInt < keepFrom
        else if (f.isFile && (f.getName == "_SUCCESS" || f.getName.endsWith(".crc")))
          keepFrom >= 1 // gen-0 append litter (commit marker, checksums)
        else if (f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
          keepFrom >= 1 // legacy root data = generation 0
        else false
      if (stale && !rm(f))
        throw new java.io.IOException(s"vacuum of $path could not remove $f")
    }
  }

  // ---- Cypher write-statement primitives (SET/REMOVE/DELETE) -------------

  /** Apply per-key property assignments to a node table (the Cypher
    * `MATCH … SET n.p = v` executor, connection_service.py /
    * sec_provider.py shapes). `updates` carries one row per matched
    * key: `__key` (string) plus one column per assigned property —
    * values may differ per row. Keys not present keep their rows
    * untouched; assigned columns are cast to the declared type.
    * CALLERS must materialize `updates` (it usually derives from the
    * very table being rewritten). Returns the matched-key count. */
  def updateNodeProps(label: String, updates: DataFrame): Long = mutate {
    val d = schema.node(label)
    val pk = d.primaryKey
    val assigned = updates.columns.filter(_ != "__key")
    val unknown = assigned.filterNot(d.structType.fieldNames.contains)
    require(unknown.isEmpty,
      s"SET on undeclared properties of $label: ${unknown.mkString(", ")}")
    require(!assigned.contains(pk), s"SET may not reassign the primary key $pk")
    if (!exists(nodePath(label))) return 0L
    // last-write-wins dedup keeps the rewrite deterministic when the
    // match produced several rows per key
    val u = dedup(updates, Seq("__key"))
      .select(col("__key") +:
        assigned.map(c => col(c).as(s"__set_$c")).toIndexedSeq: _*)
      .withColumn("__matched", lit(true))
    val path = nodePath(label)
    // point-write scope: on a bucketed table only the buckets the
    // update keys hash into are read AND rewritten — a single-key SET
    // on a 100 TB graph touches 1/B of the table, not all of it
    val touched = bucketStateIn(readManifest(), path)
      .map { case (_, nB) => touchedBuckets(u, "__key", nB) }
    val cur = readTableState(path, d.structType, touched)
    val joined = cur.join(u, cur(pk).cast("string") === u("__key"), "left")
    val outCols = cur.columns.map { c =>
      if (assigned.contains(c)) {
        val f = d.structType(c)
        when(col("__matched"), col(s"__set_$c").cast(f.dataType))
          .otherwise(cur(c)).as(c)
      } else cur(c)
    }
    // matched = keys that actually hit a stored row (a key only ever
    // lives in its own hash bucket, so the touched-bucket read sees
    // every possible match; counting REQUESTED keys would overreport —
    // keys absent from the table are not property sets). Counted
    // DURING the rewrite's own stage job via a CollectMetrics node
    // (`observe`): the touched scope is scanned ONCE — the previous
    // separate count job doubled a point write's data term and added
    // a whole job floor. Still "before the swap": the stage job runs
    // before the manifest commit by construction.
    val obs = org.apache.spark.sql.Observation(
      s"graft-set-${java.util.UUID.randomUUID()}")
    commitTables(Seq((path,
      joined.observe(obs, count(when(col("__matched"), lit(1))).as("matched"))
        .select(outCols.toIndexedSeq: _*),
      touched)))
    // an EMPTY table state folds the CollectMetrics node away
    // (PropagateEmptyRelation) — no metrics means no rows scanned,
    // i.e. zero matches
    obs.get.getOrElse("matched", 0L).asInstanceOf[Long]
  }

  /** TO-side detach probe (plan-pinnable — PointWriteSpec): the src
    * buckets holding a row whose dst matches one of the delete keys.
    * The key set rides twice: once as a LITERAL native-typed
    * `dst IN (…)` — the only predicate form a parquet reader can take
    * into row-group min/max skipping; a join side, however small,
    * never reaches the reader — and once as the exact string-equality
    * semi-join that defines match semantics. dst is schema-pinned to
    * StringType, so the literal IN is exactly the semi-join's
    * string-equality — it can only skip row groups holding no victim,
    * never a bucket holding one (and if the pin ever changed, the IN
    * simply degrades to no pre-filter; the semi-join stays). */
  private[graft] def toSideProbeFrame(
      path: String, declared: StructType, k: DataFrame,
      keyStrings: Seq[String], nB: Int): DataFrame = {
    val st = readTableState(path, declared)
    val pre = dstLiteralIn(declared("dst").dataType, keyStrings)
      .map(st.filter).getOrElse(st)
    pre.join(k, pre("dst").cast("string") === k("__key"), "left_semi")
      .select(bucketExpr(col("src"), nB).as("__b")).distinct()
  }

  /** The literal IN over `dst`. Rel tables pin dst to StringType
    * (GraphSchema's structType — endpoints are key strings), so the
    * driver-collected key strings go in verbatim and the IN is exactly
    * the string-equality match semantics; a hypothetical non-string
    * dst returns None (probe falls back to the unskipped two-column
    * scan — still correct) rather than carrying cast machinery no
    * schema can reach. */
  private def dstLiteralIn(
      t: org.apache.spark.sql.types.DataType,
      keys: Seq[String]): Option[Column] = t match {
    case org.apache.spark.sql.types.StringType =>
      Some(col("dst").isin(keys: _*))
    case _ => None
  }

  /** Cypher `MATCH … [DETACH] DELETE n` executor: remove node rows by
    * key. `detach` also removes every relationship row touching the
    * keys (both directions, schema-driven); without it, remaining
    * relationships fail loudly — openCypher's constraint. `keys` must
    * be materialized by the caller. Returns deleted-node count. */
  def deleteNodes(label: String, keys: DataFrame, detach: Boolean): Long = mutate {
    val pk = schema.node(label).primaryKey
    val k = keys.select(col(keys.columns.head).cast("string").as("__key")).distinct()
    val touching = schema.rels.filter(r => r.from == label || r.to == label)
    if (!detach) {
      touching.foreach { r =>
        val endpoints = Seq(
          if (r.from == label) Some("src") else None,
          if (r.to == label) Some("dst") else None).flatten
        endpoints.foreach { ep =>
          val n = rel(r.name).join(k, col(ep).cast("string") === col("__key"),
            "left_semi").limit(1)
          if (!n.isEmpty)
            throw new IllegalStateException(
              s"cannot DELETE $label nodes still attached via ${r.name}.$ep — " +
                "use DETACH DELETE")
        }
      }
    }
    // DETACH collects every touching relationship table's post-delete
    // state and commits it WITH the node table in ONE manifest swap —
    // a crash between any two rewrites must never leave dangling
    // relationship rows or a half-detached graph.
    //
    // Point-write scope (the updateNodeProps discipline): on a
    // bucketed table, deleting keys only rewrites the buckets those
    // keys hash into. Relationship tables bucket on SRC, so a
    // FROM-side detach hashes the keys driver-side; a TO-side detach's
    // victims can sit in ANY src bucket, so it PROBES first — see
    // [[toSideProbeFrame]]: a dst+src column scan carrying the key set
    // as a LITERAL native-typed IN the parquet reader takes into
    // row-group min/max skipping (a join side never reaches the
    // reader), returning exactly the src buckets holding a victim row.
    // The rewrite then touches only those buckets: bytes WRITTEN scale
    // with the victims' actual in-edge placement, never the table, and
    // a key with no in-edges skips the rel table entirely. The probe
    // read is AT MOST two columns of the table, less what the pushed
    // IN skips — the deliberate trade against maintaining a custom
    // per-bucket dst sidecar on every ingest (write-path cost + a
    // staleness protocol) for an operation that is rare and whose
    // bill was the REWRITE.
    val m0 = readManifest()
    // one collect of the (driver-small) key set; per-table bucket sets
    // re-hash driver-side since each table freezes its own count
    lazy val keyStrings: Seq[String] =
      k.collect().map(_.getString(0)).toIndexedSeq
    def scopeOf(path: String): Option[Seq[Int]] =
      bucketStateIn(m0, path).map { case (_, nB) =>
        bucketsOfKeys(keyStrings, nB) }
    val relWrites: Seq[(String, DataFrame, Option[Seq[Int]])] =
      if (!detach) Nil
      else touching.filter(r => exists(relPath(r.name))).flatMap { r =>
        val path = relPath(r.name)
        val declared = schema.rel(r.name).structType
        val scope: Option[Seq[Int]] = bucketStateIn(m0, path) match {
          case None => None // unbucketed: first rewrite bucketizes
          case Some((_, nB)) =>
            val fromSide =
              if (r.from == label) bucketsOfKeys(keyStrings, nB) else Nil
            val toSide =
              if (r.to != label) Nil
              else toSideProbeFrame(path, declared, k, keyStrings, nB)
                .collect().map(_.getLong(0).toInt).toSeq
            Some((fromSide ++ toSide).distinct.sorted)
        }
        if (scope.exists(_.isEmpty)) None // no touching rows anywhere
        else {
          var kept = readTableState(path, declared, scope)
          if (r.from == label)
            kept = kept.join(k, kept("src").cast("string") === k("__key"),
              "left_anti")
          if (r.to == label)
            kept = kept.join(k, kept("dst").cast("string") === k("__key"),
              "left_anti")
          Some((path, kept, scope))
        }
      }
    if (!exists(nodePath(label))) {
      if (relWrites.nonEmpty) commitTables(relWrites)
      return 0L
    }
    val nodeScope = scopeOf(nodePath(label))
    val cur = readTableState(nodePath(label),
      schema.node(label).structType, nodeScope)
    // deleted = rows that actually matched a requested key (a key
    // lives only in its own hash bucket, so the scoped read sees every
    // possible match) — deleting an absent key reports 0, mirroring
    // updateNodeProps' matched-key semantics. Counted DURING the
    // rewrite's stage job (observe over the pre-filter marker join):
    // the anti-join + separate count read the scope twice.
    val obs = org.apache.spark.sql.Observation(
      s"graft-del-${java.util.UUID.randomUUID()}")
    val kept = cur.join(k, cur(pk).cast("string") === k("__key"), "left")
      .observe(obs, count(when(col("__key").isNotNull, lit(1))).as("deleted"))
      .filter(col("__key").isNull)
      .select(cur.columns.map(cur(_)).toIndexedSeq: _*)
    commitTables(relWrites :+ ((nodePath(label), kept, nodeScope)))
    // empty state folds the metrics node away — zero deletions
    obs.get.getOrElse("deleted", 0L).asInstanceOf[Long]
  }

  /** Subgraph fork = path copy (operations/graph/subgraph_service.py;
    * Delta shallow clone on a real deployment). */
  def fork(newGraphId: String): GraphStore =
    // both sides locked: the copy must not observe a half-swapped src
    // table, and dst must not race another writer's first ingest
    mutate { WriterLock.withLock(s"$root/$newGraphId") {
    val src = new java.io.File(s"$root/$graphId")
    val dst = new java.io.File(s"$root/$newGraphId")
    def cp(a: java.io.File, b: java.io.File): Unit = {
      if (a.isDirectory) {
        b.mkdirs()
        Option(a.listFiles()).foreach(_.foreach(f => cp(f, new java.io.File(b, f.getName))))
      } else if (a.getName != ".writer.lock") {
        // lock files are per-graph runtime state, not data — and the
        // dst's own lock already exists (we hold it)
        java.nio.file.Files.copy(a.toPath, b.toPath): Unit
      }
    }
    if (src.exists()) cp(src, dst)
    new GraphStore(spark, root, newGraphId, schema)
  } }

  /** Register every materialized table as a temp view for SQL
    * passthrough (manager.py:336-372 query_table). */
  def registerViews(): Unit = {
    schema.nodes.foreach { n =>
      if (exists(nodePath(n.name))) node(n.name).createOrReplaceTempView(n.name)
    }
    schema.rels.foreach { r =>
      if (exists(relPath(r.name))) rel(r.name).createOrReplaceTempView(r.name)
    }
  }
}

object GraphStore {
  /** Row-group size for every table write. Sized for the LOCAL
    * profile: 32 read threads × vectored-reader buffers of whole row
    * groups must fit an 8 GB JVM (the default 128 MB groups measured
    * an OOM in ParquetFileReader.readVectored at a 13 GB table). On a
    * real cluster raise it with executor memory — bigger groups, fewer
    * seeks. */
  private[graft] val RowGroupBytes: Int = 32 * 1024 * 1024
}
