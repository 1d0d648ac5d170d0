package graft.query.cypher

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.PipelineContext
import graft.query.PatternQuery
import graft.storage.GraphStore
import CypherAst._

/** Executes Cypher WRITE statements — `MATCH … SET / REMOVE / DELETE /
  * DETACH DELETE / CREATE / MERGE … [RETURN …]` — against a writable
  * [[GraphStore]]. This is the text form of the reference's write path
  * (connection_service.py SET/DETACH DELETE/MERGE-rel, sec_provider.py
  * SET, save_view.py MATCH-anchored CREATE, plaid transactions.py
  * MERGE-node-then-SET and DELETE); the API-level equivalents live in
  * views/SaveView.
  *
  * Semantics and batching:
  *  - the reading clauses compile once through [[CypherCompiler]] and
  *    the matched frame is materialized (checkpoint) BEFORE any table
  *    rewrite — the lazy plan reads the very parquet the writes swap;
  *  - SET/REMOVE batch into ONE rewrite per (label) with per-row
  *    values (the reference loops row-at-a-time through Cypher;
  *    one anti-join/rewrite per table is the Spark shape);
  *  - DELETE checks for attached relationships and fails loudly;
  *    DETACH DELETE removes them (openCypher constraint semantics);
  *  - CREATE inserts one node per matched row (strict ingest: duplicate
  *    keys fail) and one relationship per matched row between bound or
  *    just-created endpoints;
  *  - MERGE on a node is the dup-tolerant COPY (anti-join insert of the
  *    missing keys — the match map must include the primary key);
  *    MERGE on a relationship inserts only pairs not already stored;
  *  - RETURN evaluates against the matched frame with SET assignments
  *    applied; vars bound by CREATE/MERGE resolve by re-reading the
  *    post-write node table (plaid's `MERGE … SET … RETURN t`); DELETE
  *    returns the pre-delete snapshot (openCypher);
  *  - with no RETURN, a one-row write summary comes back
  *    (propertiesSet / nodesDeleted / nodesCreated / relsCreated).
  *
  * The serving path routes writes here on subgraphs only
  * (serve/QueryService); read-only replicas keep rejecting write text. */
final class CypherWriter(
    store: GraphStore,
    params: Map[String, Any] = Map.empty,
    /** RETURN results up to this many rows collect (one job, no FS
      * round trip); larger results page through a staging parquet and
      * come back lazy — `MATCH (n) SET … RETURN n` with no LIMIT can
      * match the whole graph, and a full driver collect of it is an
      * OOM at scale. */
    returnCollectThreshold: Long = 100000L) {

  private val compiler = new CypherCompiler(store, params)

  def execute(text: String): DataFrame =
    CypherParser.parseQuery(text) match {
      case Left(err) => throw new IllegalArgumentException(err)
      case Right(UnionQuery(Seq(q), _)) if q.writes.nonEmpty => executeWrite(q)
      case Right(UnionQuery(branches, _)) if branches.exists(_.writes.nonEmpty) =>
        throw new IllegalArgumentException(
          "UNION of write statements is not supported — run each statement separately")
      case Right(_) => compiler.run(text)
    }

  private def executeWrite(q: Query): DataFrame = {
    val spark = store.spark
    var propertiesSet = 0L
    var nodesDeleted = 0L
    var nodesCreated = 0L
    var relsCreated = 0L

    val result = PipelineContext.run { ctx =>
      // CREATE/MERGE with no reading clauses (plaid upserts, conftest
      // seeds) anchor on a one-row frame
      val (matched0, vars) =
        if (q.clauses.isEmpty) (spark.range(1).drop("id"), Map.empty[String, String])
        else compiler.compileReads(q)
      // materialize NOW: every write below swaps parquet under this plan
      val matched = ctx.stage(matched0)
      matched.count() // forces the checkpoint before any table rewrite

      // openCypher: a later SET clause sees the earlier clauses' writes
      // — `cur` is the matched frame with assignments applied so far,
      // and every value expression evaluates against it
      var cur = matched
      // statement-scoped registry of vars bound by CREATE/MERGE:
      // var → (label, pk expression over the matched frame). A node
      // created/merged by one clause is a legal endpoint or SET target
      // in a LATER clause (save_view.py creates the fact, then its
      // relationships; plaid merges the node, then SETs it).
      val writeBound = scala.collection.mutable.Map.empty[String, (String, Expr)]

      def pkCol(v: String): Column =
        if (vars(v) == PatternQuery.AnyLabel) col(s"${v}____pk")
        else col(s"${v}__${store.schema.node(vars(v)).primaryKey}")

      /** SET/DELETE target resolution: a match-bound node var or a
        * CREATE/MERGE-bound one. Returns (label, string key column). */
      def target(v: String): (String, Column) =
        if (vars.contains(v)) (vars(v), pkCol(v).cast("string"))
        else writeBound.get(v) match {
          case Some((label, pkE)) => (label, compiler.toColumn(pkE, vars).cast("string"))
          case None => throw new IllegalArgumentException(
            s"write target $v is not a bound node variable")
        }

      def applySet(items: Seq[(Prop, Expr)]): Unit = {
        // one rewrite per target label, all of that label's assignments
        // in a single pass. openCypher SET is SIMULTANEOUS within a
        // clause: every value — persisted AND overlaid — evaluates
        // against the pre-clause state, so `SET n.a = n.b, n.b = n.a`
        // swaps in the table AND in RETURN (a sequential withColumn
        // fold would return (b, b) while persisting the swap). Across
        // clauses, a later SET still sees earlier writes via `cur`.
        val pre = cur
        items.groupBy(_._1.variable).foreach { case (v, as) =>
          val (label, key) = target(v)
          require(label != PatternQuery.AnyLabel,
            s"SET needs a labeled node variable, got label-less $v")
          val valueCols = as.map { case (p, e) =>
            compiler.toColumn(e, vars).as(p.name)
          }
          val updates = pre.select((key.as("__key") +: valueCols): _*)
          propertiesSet += store.updateNodeProps(label, updates) * as.size
        }
        // overlay for RETURN: ONE projection over the pre-clause frame
        // with every match-bound assignment folded in (write-bound vars
        // re-read post-write at RETURN time instead)
        val assigns = items.collect {
          case (p, e) if vars.contains(p.variable) =>
            s"${p.variable}__${p.name}" -> compiler.toColumn(e, vars)
        }.toMap
        if (assigns.nonEmpty) {
          val existing = pre.columns.toSet
          val replaced = pre.columns.toIndexedSeq.map(c =>
            assigns.get(c).map(_.as(c)).getOrElse(col(c)))
          val appended = assigns.collect {
            case (name, value) if !existing(name) => value.as(name)
          }.toSeq
          cur = pre.select(replaced ++ appended: _*)
        }
      }

      /** `SET n += map` (neo4j.py:340's bulk-load dialect) expands to
        * per-key assignments, so openCypher's merge semantics fall out
        * of applySet: null values remove the property, absent keys keep
        * theirs. Keys must be statically known — a literal map or a
        * `$param` holding one; the primary key is skipped (it is the
        * row's identity, anchored by the MATCH/MERGE — neo4j.py's rows
        * carry it redundantly), never reassigned. */
      def expandSetMerge(v: String, m: Expr): Seq[(Prop, Expr)] = {
        val (label, _) = target(v)
        require(label != PatternQuery.AnyLabel,
          s"SET += needs a labeled node variable, got label-less $v")
        val pk = store.schema.node(label).primaryKey
        val kvs: Seq[(String, Expr)] = m match {
          case MapLit(items) => items
          case Param(name) => params.get(name) match {
            case Some(mm: Map[_, _]) =>
              mm.toSeq.map { case (k, x) => k.toString -> (Lit(x): Expr) }
            case other => throw new IllegalArgumentException(
              s"SET $v += $$$name needs a map parameter, got " +
                other.map(_.getClass.getSimpleName).getOrElse("no binding"))
          }
          case _ => throw new IllegalArgumentException(
            "SET += supports a literal map or a $param map — per-row " +
              "dynamic maps go through the bulk ingest path instead")
        }
        kvs.filterNot(_._1 == pk).map { case (k, e) => (Prop(v, k), e) }
      }

      /** Endpoint pk expression: write-bound registry first, then the
        * matched frame's pk column. */
      def nodePk(n: NodePat): Expr = {
        val v = n.variable
        v.flatMap(writeBound.get).map(_._2).getOrElse {
          val bv = v.getOrElse(throw new IllegalArgumentException(
            "relationship endpoints need variables"))
          require(vars.contains(bv),
            s"endpoint $bv is neither bound nor created/merged here")
          Prop(bv, if (vars(bv) == PatternQuery.AnyLabel)
            throw new IllegalArgumentException(
              s"endpoint $bv needs a labeled variable")
          else store.schema.node(vars(bv)).primaryKey)
        }
      }
      def evalPk(n: NodePat): Column = nodePk(n) match {
        case Prop(v, pn) if vars.contains(v) => col(s"${v}__$pn")
        case e => compiler.toColumn(e, vars)
      }

      def createRel(rel: RelPat, from: NodePat, to: NodePat,
          ignoreExisting: Boolean): Unit = {
        val t = rel.relType.getOrElse(throw new IllegalArgumentException(
          "CREATE/MERGE relationships need a type"))
        require(!rel.undirected && rel.varLength.isEmpty,
          "CREATE/MERGE relationships are typed, directed, single hops")
        val (srcPat, dstPat) = if (rel.rightward) (from, to) else (to, from)
        val relProps = rel.props.map { case (k, e) =>
          compiler.toColumn(e, vars).as(k)
        }
        val pairs = matched.select(
          (evalPk(srcPat).cast("string").as("from") +:
            evalPk(dstPat).cast("string").as("to") +: relProps): _*)
        relsCreated += store.ingestRels(t, pairs, ignoreExisting = ignoreExisting)
      }

      def createNode(n: NodePat, merge: Boolean): Unit = {
        val label = n.label.getOrElse(throw new IllegalArgumentException(
          s"${if (merge) "MERGE" else "CREATE"} node needs a label"))
        val d = store.schema.node(label)
        require(n.props.exists(_._1 == d.primaryKey),
          s"${if (merge) "MERGE" else "CREATE"} (:$label {…}) must supply " +
            s"the primary key ${d.primaryKey}")
        if (merge) {
          // openCypher MERGE matches the FULL map; on a key-unique
          // store a non-key prop that differs would demand creating a
          // duplicate key. Reject loudly rather than silently matching
          // on the key alone (the reference's own MERGE forms are all
          // key-only, e.g. plaid transactions.py).
          val extra = n.props.map(_._1).filterNot(_ == d.primaryKey)
          require(extra.isEmpty,
            s"MERGE (:$label {…}) matches on the primary key only; " +
              s"non-key properties (${extra.mkString(", ")}) in the match " +
              "map would need openCypher full-map semantics a key-unique " +
              s"store cannot honor — MERGE on ${d.primaryKey}, then SET them")
        }
        val rows = matched.select(n.props.map { case (k, e) =>
          compiler.toColumn(e, vars).as(k)
        }: _*)
        nodesCreated += store.ingestNodes(label, rows, ignoreErrors = merge)
        n.variable.foreach { v =>
          writeBound.update(v, (label, n.props.find(_._1 == d.primaryKey).get._2))
        }
      }

      q.writes.foreach {
        case SetClause(items, merges) =>
          applySet(items ++ merges.flatMap { case (v, m) => expandSetMerge(v, m) })
        case RemoveClause(targets) =>
          applySet(targets.map(p => p -> (Lit(null): Expr)))

        case DeleteClause(vs, detach) =>
          vs.foreach { v =>
            require(vars.contains(v),
              s"DELETE target $v is not a bound node variable")
            val label = vars(v)
            if (label == PatternQuery.AnyLabel) {
              // label-less DELETE (test_client's MATCH (n) DELETE n):
              // one bounded pass per SCHEMA label over the (already
              // checkpointed) matched frame — never a driver collect of
              // the keys, which could be the whole graph
              store.schema.nodes.foreach { nd =>
                val keys = matched
                  .filter(col(s"${v}____label") === nd.name)
                  .select(col(s"${v}____pk").as("__key"))
                if (!keys.isEmpty)
                  nodesDeleted += store.deleteNodes(nd.name, keys, detach)
              }
            } else {
              // skip the table rewrites outright when nothing matched
              // (the key frame is a cheap probe on the checkpoint)
              val keys = matched.select(pkCol(v).cast("string").as("__key"))
              if (!keys.isEmpty)
                nodesDeleted += store.deleteNodes(label, keys, detach)
            }
          }

        case CreateClause(paths) =>
          // two passes: nodes first (so rels can target just-created
          // pks), then relationships
          paths.foreach { p =>
            (p.head +: p.hops.map(_._2)).foreach { n =>
              val alreadyBound = n.variable.exists(v =>
                vars.contains(v) || writeBound.contains(v))
              if (alreadyBound)
                require(n.label.isEmpty && n.props.isEmpty,
                  s"CREATE cannot re-declare bound variable ${n.variable.get} " +
                    "with a label/property map (openCypher rejects this); " +
                    "bound endpoints are bare: CREATE (a)-[:R]->(b)")
              else if (n.label.nonEmpty) createNode(n, merge = false)
              else
                // a fresh unlabeled node can never be created (no table
                // to land in) — fail loudly, never silently skip
                throw new IllegalArgumentException(
                  s"CREATE node ${n.variable.getOrElse("(anonymous)")} needs " +
                    "a label (a bare variable is only legal for endpoints " +
                    "already bound by MATCH or an earlier CREATE/MERGE)")
            }
          }
          paths.foreach { p =>
            var from = p.head
            p.hops.foreach { case (rel, to) =>
              createRel(rel, from, to, ignoreExisting = false)
              from = to
            }
          }

        case MergeClause(path) =>
          if (path.hops.isEmpty) {
            // node upsert: insert only the missing keys (plaid's
            // `MERGE (t:Transaction {identifier: $identifier})`)
            createNode(path.head, merge = true)
          } else {
            // relationship upsert between bound/created endpoints
            // (connection_service.py:227 `MERGE (c)-[:HAS_CONNECTION]->(conn)`)
            require(path.hops.length == 1,
              "MERGE supports one relationship hop")
            val (rel, to) = path.hops.head
            require(path.head.props.isEmpty && to.props.isEmpty,
              "MERGE relationship endpoints must be bound variables, " +
                "not inline property maps — MATCH them first")
            createRel(rel, path.head, to, ignoreExisting = true)
          }
      }

      // RETURN: matched frame with SET values overlaid; CREATE/MERGE
      // vars resolve by re-reading the (post-write) node table
      q.ret match {
        case Some(ret) =>
          var frame = cur // matched + SET assignments applied in order
          var projVars = vars
          val needed = (ret.items.map(_.expr) ++ q.orderBy.map(_.expr))
            .flatMap(compiler.referencedVarsOf).toSet
          writeBound.foreach { case (v, (label, pkE)) =>
            if (needed.contains(v) && !projVars.contains(v)) {
              val d = store.schema.node(label)
              val nodeDf = store.node(label)
              val named = nodeDf.select(
                nodeDf.columns.map(c => col(c).as(s"${v}__$c")).toIndexedSeq: _*)
              frame = frame.join(named,
                compiler.toColumn(pkE, vars).cast("string") ===
                  col(s"${v}__${d.primaryKey}").cast("string"), "left")
              projVars += (v -> label)
            }
          }
          val (out0, _) = compiler.project(frame, projVars, ret.items, ret.distinct,
            q.orderBy, keepNamespaces = false)
          var out = out0
          q.skip.foreach(e => out = out.offset(compiler.limitValueOf(e, "SKIP")))
          q.limit.foreach(e => out = out.limit(compiler.limitValueOf(e, "LIMIT")))
          // The result must be snapshot-stable before the checkpoint is
          // released — the lazy projection would re-read the very
          // parquet the writes just swapped. Small results collect;
          // above the threshold the projection is materialized to a
          // result-staging parquet and returned as a LAZY frame over
          // that immutable snapshot (a full-graph `SET … RETURN n` is
          // a driver OOM if collected). Staging dirs live under the
          // graph root; a serving deployment reaps them by TTL like
          // any other result cache.
          val n = out.count()
          if (n <= returnCollectThreshold)
            spark.createDataFrame(
              java.util.Arrays.asList(out.collect(): _*), out.schema)
          else {
            val dir = s"${store.root}/${store.graphId}/.return_staging/" +
              s"r_${System.nanoTime()}"
            // read back with the schema just written: inferring it
            // would cost one more job for a known answer
            if (q.orderBy.nonEmpty) {
              // parquet read-back does not preserve write order — stamp
              // the sorted position and re-sort lazily on read
              val stamped = out.withColumn("__ord", monotonically_increasing_id())
              stamped.write.parquet(dir)
              spark.read.schema(stamped.schema).parquet(dir)
                .orderBy("__ord").drop("__ord")
            } else {
              out.write.parquet(dir)
              spark.read.schema(out.schema).parquet(dir)
            }
          }
        case None =>
          import spark.implicits._
          Seq((propertiesSet, nodesDeleted, nodesCreated, relsCreated))
            .toDF("propertiesSet", "nodesDeleted", "nodesCreated", "relsCreated")
      }
    }
    result
  }
}
