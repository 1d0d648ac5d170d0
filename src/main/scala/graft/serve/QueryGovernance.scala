package graft.serve

/** Engine-independent query governance, ported from the reference's
  * design (SURVEY.md §3.1/§4 — these layers are explicitly portable):
  * classification (security/cypher_analyzer.py:33-247), shape/cost
  * analysis (middleware/graph/execution_strategies.py:59-198), and
  * complexity scoring (middleware/mcp/query_validator.py:403-440). All
  * pure string/AST logic — no Spark dependency. */
object QueryGovernance {

  sealed trait QueryKind
  object QueryKind {
    case object Read extends QueryKind
    case object Write extends QueryKind
    case object Bulk extends QueryKind
    case object Admin extends QueryKind
    case object Ddl extends QueryKind
  }

  private val writeKeywords = Set(
    "CREATE", "MERGE", "SET", "DELETE", "REMOVE", "DETACH", "DROP",
    "ALTER", "INSERT", "UPDATE")
  private val bulkKeywords = Set("COPY", "LOAD", "IMPORT")
  private val adminKeywords = Set("EXPORT", "INSTALL", "ATTACH", "USE")
  private val ddlPhrases = Seq(
    "CREATE NODE TABLE", "CREATE REL TABLE", "DROP NODE TABLE",
    "DROP REL TABLE", "ALTER TABLE", "ADD COLUMN", "DROP COLUMN",
    "RENAME TABLE", "RENAME COLUMN")

  /** Strip string literals and comments so keywords inside them don't
    * misclassify (cypher_analyzer.py does the same before matching).
    * A stripped literal leaves [[LiteralPlaceholder]] — a VALUE, not
    * blank space: after `WHERE c.id = '7'` the last significant
    * character before a following `SET` must be the value, not the
    * `=` that would make `SET` read as expression context. */
  private[serve] def stripLiterals(q: String): String = {
    val sb = new StringBuilder
    var i = 0
    var mode: Char = ' ' // ' '=code, '\''/'"'=string, '/'=block, '-'=line
    while (i < q.length) {
      val c = q(i)
      mode match {
        case ' ' =>
          if (c == '\'' || c == '"') { mode = c; sb += LiteralPlaceholder }
          else if (c == '/' && i + 1 < q.length && q(i + 1) == '*') { mode = '/'; i += 1 }
          else if (c == '/' && i + 1 < q.length && q(i + 1) == '/') { mode = '-'; i += 1 }
          else sb += c
        case '\'' | '"' =>
          // consume the escaped char so a backslash-escaped backslash
          // before the closing quote cannot hold the string open and
          // swallow (mis-classify) the rest of the query
          if (c == '\\' && i + 1 < q.length) i += 1
          else if (c == mode) mode = ' '
        case '/' =>
          if (c == '*' && i + 1 < q.length && q(i + 1) == '/') { mode = ' '; i += 1 }
        case '-' =>
          if (c == '\n') { mode = ' '; sb += '\n' }
        case _ =>
      }
      i += 1
    }
    sb.toString
  }

  // Tokens/chars after which a clause CANNOT start — those positions are
  // expression context, so a keyword there is an alias/variable/property
  // (e.g. `RETURN c.set AS use`), not a write clause.
  private val exprContextWords = Set(
    "RETURN", "WITH", "WHERE", "BY", "AS", "DISTINCT", "AND", "OR",
    "XOR", "NOT", "IN", "WHEN", "THEN", "ELSE", "CASE", "CONTAINS",
    "STARTS", "ENDS", "OPTIONAL", "UNWIND", "SKIP", "LIMIT")
  // NOTE: '{' is deliberately NOT expression context — `CALL { CREATE … }`
  // must classify Write; map keys (`{set: 1}`) are caught by the
  // trailing-colon rule below instead.
  private val exprContextChars = ".$,(=<>+-*/|[:".toSet
  // what a stripped string literal leaves behind: neither expression
  // context nor a word, so it reads as the value it replaced
  private val LiteralPlaceholder = '?'

  /** True iff any of `kws` occurs at a position where a clause can
    * begin: start of query, or after a pattern/expression terminator —
    * never right after '.', '$', 'AS', 'RETURN', a comma, an operator,
    * or as a map key (`{set: 1}`). Heuristic (the reference classifies
    * with regexes too, cypher_analyzer.py:140-247); the conservative
    * direction is preserved for genuine clause positions: the prevWord
    * rule only applies when that word itself sat in a genuine (non
    * '.'/'$'-prefixed) position, so a property named `not`/`in`/`case`
    * directly before a write clause (`WHERE c.not DELETE c`) cannot
    * suppress the write classification. */
  private def hasClauseKeyword(cleaned: String, kws: Set[String]): Boolean = {
    val word = "[A-Za-z_][A-Za-z_0-9]*".r
    var prevWord: String = null
    var prevWordGenuine = false // prev word not itself '.'/'$'-prefixed
    var prevEnd = -1
    for (m <- word.findAllMatchIn(cleaned)) {
      val tok = m.matched.toUpperCase
      val between = cleaned.substring(math.max(prevEnd, 0), m.start)
      val sigChars = between.filterNot(_.isWhitespace)
      if (kws.contains(tok)) {
        val after = cleaned.drop(m.end).dropWhile(_.isWhitespace)
        val inExprContext =
          sigChars.lastOption.exists(exprContextChars) ||
            (sigChars.isEmpty && prevWord != null && prevWordGenuine &&
              exprContextWords(prevWord)) ||
            after.headOption.contains(':') // map key {set: 1}
        if (!inExprContext) return true
      }
      prevWord = tok
      prevWordGenuine = !sigChars.lastOption.exists(c => c == '.' || c == '$')
      prevEnd = m.end
    }
    false
  }

  /** Classify a query read/write/bulk/admin/DDL. */
  def classify(query: String): QueryKind = {
    val cleaned = stripLiterals(query)
    val upper = cleaned.toUpperCase
    if (ddlPhrases.exists(upper.contains)) QueryKind.Ddl
    else if (hasClauseKeyword(cleaned, adminKeywords)) QueryKind.Admin
    else if (hasClauseKeyword(cleaned, bulkKeywords)) QueryKind.Bulk
    else if (hasClauseKeyword(cleaned, writeKeywords)) QueryKind.Write
    else QueryKind.Read
  }

  sealed trait ResultSize
  object ResultSize {
    case object Small extends ResultSize  // ≤ 100 rows
    case object Medium extends ResultSize // ≤ 1000
    case object Large extends ResultSize  // stream it
  }

  final case class QueryShape(
      estimatedSize: ResultSize,
      hasAggregation: Boolean,
      hasLimit: Option[Long],
      potentiallyExpensive: Boolean,
      requiresStreaming: Boolean)

  private val aggRe = "(?i)\\b(count|sum|avg|min|max|collect)\\s*\\(".r
  private val limitRe = "(?i)\\blimit\\s+(\\d+)".r
  private val expensiveRe =
    "(?i)(shortestpath|allshortestpaths|\\bmatch\\s*\\([^)]*\\)\\s*,\\s*\\()".r
  // matches *, *n, *..n, *m..n, *m.. inside a relationship bracket
  private val varLenRe = "\\[[^\\]]*\\*\\s*(\\d*)\\s*(?:(\\.\\.)\\s*(\\d*))?\\s*\\]".r

  private val returnRe = "(?is)\\breturn\\b(.*?)(\\border\\s+by\\b|\\blimit\\b|\\bskip\\b|$)".r
  private def returnAllAggregates(cleaned: String): Boolean =
    returnRe.findFirstMatchIn(cleaned).exists { m =>
      val items = m.group(1).split(",").map(_.trim).filter(_.nonEmpty)
      items.nonEmpty && items.forall(it =>
        "(?i)^(count|sum|avg|min|max|collect)\\s*\\(".r.findFirstIn(it).isDefined)
    }

  /** Shape analysis → routing (execution_strategies.py:59-198:
    * SMALL_RESULT=100, MEDIUM_RESULT=1000). */
  def analyze(query: String): QueryShape = {
    val cleaned = stripLiterals(query)
    val limit = limitRe.findFirstMatchIn(cleaned).map(_.group(1).toLong)
    val agg = aggRe.findFirstIn(cleaned).isDefined
    val expensive = expensiveRe.findFirstIn(cleaned).isDefined
    val size = limit match {
      case Some(n) if n <= 100 => ResultSize.Small
      case Some(n) if n <= 1000 => ResultSize.Medium
      case Some(_) => ResultSize.Large
      // only a GLOBAL aggregate collapses cardinality — a grouped
      // RETURN (non-aggregate items beside the aggregate) can be
      // arbitrarily large and must still stream
      case None if agg && returnAllAggregates(cleaned) => ResultSize.Small
      case None => ResultSize.Large
    }
    QueryShape(size, agg, limit, expensive, size == ResultSize.Large)
  }

  /** Complexity score (query_validator.py:403-440): var-length paths
    * beyond 5 hops cost (ub−5)×10; each WITH/CALL{} beyond 10 rejects;
    * missing LIMIT on a non-aggregate adds 10. Score > 50 ⇒ reject. */
  def complexityScore(query: String): Int = {
    val cleaned = stripLiterals(query)
    var score = 0
    varLenRe.findAllMatchIn(cleaned).foreach { m =>
      val lo = Option(m.group(1)).filter(_.nonEmpty).map(_.toInt)
      val dots = Option(m.group(2)).isDefined
      val hi = Option(m.group(3)).filter(_.nonEmpty).map(_.toInt)
      val ub = (lo, dots, hi) match {
        case (_, true, Some(n)) => n          // *m..n / *..n
        case (Some(n), false, _) => n         // *n (exact)
        case _ => 100                         // * or *m.. — unbounded
      }
      if (ub > 5) score += (ub - 5) * 10
    }
    val withCount = "(?i)\\bwith\\b".r.findAllIn(cleaned).length +
      "(?i)\\bcall\\s*\\{".r.findAllIn(cleaned).length
    if (withCount > 10) score += 100
    val shape = analyze(query)
    if (shape.hasLimit.isEmpty && !shape.hasAggregation) score += 10
    if (shape.potentiallyExpensive) score += 25
    score
  }

  val MaxComplexity = 50
  val MaxQueryLength = 100000 // pytest.ini GRAPH_MAX_QUERY_LENGTH
  def validate(query: String): Either[String, Unit] = {
    if (query.length > MaxQueryLength)
      Left(s"query exceeds max length ($MaxQueryLength chars)")
    else {
      val s = complexityScore(query)
      if (s > MaxComplexity) Left(s"query too complex (score $s > $MaxComplexity)")
      else Right(())
    }
  }
}
