package graft.regress

import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation, UnresolvedStar, UnresolvedSubqueryColumnAliases}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types._

/** Mine and replay the reference's INLINE unit battery: `test/UnitTest.cs`
  * carries hundreds of `sql = "…"; TU.ExecuteSQL(sql, "expected…")`
  * assertions — each a verbatim (query, expected rows) pair over the
  * reference's built-in micro tables (loaded here from ITS OWN `.tbl`
  * files under `/root/reference/data`, `Catalog.cs:259-310`) or its
  * TPC-H 0001 load. The replay is SEQUENTIAL per test method: single-arg
  * `TU.ExecuteSQL("insert into …")` setup statements execute in order
  * (several methods assert against rows they inserted), and micro-table
  * state resets at method boundaries once dirtied — the same lifecycle
  * the reference's test runner provides.
  *
  * Expected-row text is the reference's own renderer: rows joined by
  * `;`, columns by `,`, doubles via `0.####`, NULL as empty — compared
  * with [[RefRegress.fmtRow]]/[[RefRegress.diff]]. Queries run through
  * [[RefRegress.qpmodelize]] plus three battery-only quirk shims, each
  * reproducing C# execution semantics the inline expectations encode
  * (the engine keeps standard semantics, oracle-tested in the corpus):
  *
  *  - [[substringEndPos]]: the reference's 3-arg substring takes an END
  *    POSITION, not a length (`ExprFunc.cs` SubstringFunc).
  *  - [[intDivide]]: `/` between the micro tables' int columns is C#
  *    integer division (`dynamic int / int`); applied only to queries
  *    touching no TPC-H table (whose double columns must keep real
  *    division).
  *  - zero-arg `count()` = `count(*)` (the reference's parser accepts
  *    the empty argument list).
  */
object UnitMiner {

  sealed trait Event
  final case class Method(name: String, line: Int) extends Event
  final case class Exec(sql: String, line: Int) extends Event
  final case class Check(sql: String, expected: String, line: Int)
    extends Event
  /** A statement the reference asserts FAILS (`result = ExecuteSQL(sql);
    * Assert.IsNull(result)`): negative parity — this engine should
    * reject it too, or the acceptance is a pinned capability
    * difference.
    */
  final case class NegCheck(sql: String, line: Int) extends Event

  /** Parse UnitTest.cs into the replay event stream. Tracks the most
    * recent `sql = …;` assignment whose right-hand side is entirely
    * string literals joined by `+` (anything else poisons the tracker
    * until the next literal assignment).
    */
  def mine(source: String): Seq[Event] = {
    val out = Seq.newBuilder[Event]
    var i = 0
    var line = 1
    var cur: Option[String] = None

    def skipWs(): Unit = {
      var go = true
      while (go && i < source.length) {
        val c = source.charAt(i)
        if (c == '\n') { line += 1; i += 1 }
        else if (c.isWhitespace) i += 1
        else if (c == '/' && i + 1 < source.length &&
          source.charAt(i + 1) == '/') {
          while (i < source.length && source.charAt(i) != '\n') i += 1
        } else go = false
      }
    }

    def literal(): Option[String] = {
      skipWs()
      if (i >= source.length) return None
      val verbatim = source.charAt(i) == '@' && i + 1 < source.length &&
        source.charAt(i + 1) == '"'
      if (!verbatim && source.charAt(i) != '"') return None
      i += (if (verbatim) 2 else 1)
      val sb = new StringBuilder
      var done = false
      while (!done && i < source.length) {
        val c = source.charAt(i)
        if (c == '\n') line += 1
        if (verbatim) {
          if (c == '"') {
            if (i + 1 < source.length && source.charAt(i + 1) == '"') {
              sb.append('"'); i += 2
            } else { i += 1; done = true }
          } else { sb.append(c); i += 1 }
        } else {
          if (c == '\\' && i + 1 < source.length) {
            val n = source.charAt(i + 1)
            sb.append(n match {
              case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
              case other => other
            })
            i += 2
          } else if (c == '"') { i += 1; done = true }
          else { sb.append(c); i += 1 }
        }
      }
      Some(sb.toString)
    }

    def concatLiterals(): Option[String] = {
      val sb = new StringBuilder
      var ok = true
      var go = true
      while (go && ok) {
        literal() match {
          case Some(l) => sb.append(l)
          case None => ok = false
        }
        if (ok) {
          skipWs()
          if (i < source.length && source.charAt(i) == '+') i += 1
          else go = false
        }
      }
      if (ok) Some(sb.toString) else None
    }

    while (i < source.length) {
      val c = source.charAt(i)
      if (c == '\n') { line += 1; i += 1 }
      else if (c == '/' && i + 1 < source.length &&
        source.charAt(i + 1) == '/') {
        while (i < source.length && source.charAt(i) != '\n') i += 1
      } else if (source.startsWith("public void ", i)) {
        i += "public void ".length
        val end = source.indexOf('(', i)
        if (end > i) {
          out += Method(source.substring(i, end), line)
          i = end
        }
      } else if (source.startsWith("sql = ", i) ||
        source.startsWith("string sql = ", i)) {
        i += (if (source.startsWith("string", i)) 13 else 6)
        cur = concatLiterals()
      } else if (source.startsWith("TU.ExecuteSQL(", i) ||
        (source.startsWith("ExecuteSQL(", i) &&
          !(i >= 3 && source.substring(i - 3, i) == "TU."))) {
        val startLine = line
        i += (if (source.charAt(i) == 'T') "TU.ExecuteSQL("
        else "ExecuteSQL(").length
        skipWs()
        val sqlArg: Option[String] =
          if (source.startsWith("sql", i) && i + 3 < source.length &&
            !source.charAt(i + 3).isLetterOrDigit) {
            i += 3; cur
          } else literal()
        skipWs()
        // a following Assert.IsNull(result) marks an expected-failure
        // statement (look ahead past the call's remaining args)
        def negAhead: Boolean = {
          val window = source.substring(i,
            math.min(source.length, i + 180))
          val nextCall = window.indexOf("ExecuteSQL(")
          val assertAt = window.indexOf("Assert.IsNull(result)")
          assertAt >= 0 && (nextCall < 0 || assertAt < nextCall)
        }
        if (i < source.length && source.charAt(i) == ',') {
          i += 1
          literal() match {
            case Some(expected) =>
              sqlArg.foreach(s => out += Check(s, expected, startLine))
            case None => // second arg not a literal (out var, option…)
              sqlArg.foreach(s => out += Exec(s, startLine))
          }
        } else if (negAhead) {
          sqlArg.foreach(s => out += NegCheck(s, startLine))
        } else {
          // single-arg form: setup DML / fire-and-forget statement
          sqlArg.foreach(s => out += Exec(s, startLine))
        }
      } else i += 1
    }
    out.result()
  }

  // --------------------------------------------------- battery shims

  /** The reference's substring takes (start, END POSITION) — rewrite
    * 3-arg calls to standard length form. Paren/quote-aware top-level
    * argument split.
    */
  def substringEndPos(sql: String): String = {
    val lower = sql.toLowerCase
    val at = lower.indexOf("substring")
    if (at < 0) return sql
    var i = at + "substring".length
    while (i < sql.length && sql.charAt(i).isWhitespace) i += 1
    if (i >= sql.length || sql.charAt(i) != '(') {
      return sql.substring(0, at + 9) +
        substringEndPos(sql.substring(at + 9))
    }
    val open = i
    var depth = 0
    var inQ = false
    val splits = Seq.newBuilder[Int]
    var close = -1
    var j = open
    while (close < 0 && j < sql.length) {
      val ch = sql.charAt(j)
      if (inQ) { if (ch == '\'') inQ = false }
      else ch match {
        case '\'' => inQ = true
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) close = j
        case ',' if depth == 1 => splits += j
        case _ =>
      }
      j += 1
    }
    if (close < 0) return sql
    val cuts = splits.result()
    val rewritten =
      if (cuts.size == 2) {
        val x = sql.substring(open + 1, cuts(0)).trim
        val a = sql.substring(cuts(0) + 1, cuts(1)).trim
        val b = sql.substring(cuts(1) + 1, close).trim
        s"substring($x, $a, ($b) - ($a) + 1)"
      } else sql.substring(at, close + 1)
    sql.substring(0, at) + rewritten + substringEndPos(sql.substring(close + 1))
  }

  /** `x / y` → `(x div y)` for all-int micro queries (C# int division).
    * Operand-boundary scan; skips when either operand carries a `.`
    * or a DOUBLE cast (fractional literals arrive pre-wrapped by the
    * dialect rewrite).
    */
  def intDivide(sql: String): String = {
    def operandEndsWithDouble(s: String): Boolean =
      s.contains(".") || s.toUpperCase.contains("DOUBLE")
    var text = sql
    var changed = true
    while (changed) {
      changed = false
      var i = 0
      var inQ = false
      while (!changed && i < text.length) {
        val c = text.charAt(i)
        if (inQ) { if (c == '\'') inQ = false; i += 1 }
        else if (c == '\'') { inQ = true; i += 1 }
        else if (c == '/' && !(i + 1 < text.length &&
          text.charAt(i + 1) == '/')) {
          // left operand
          var l = i - 1
          while (l >= 0 && text.charAt(l).isWhitespace) l -= 1
          var lStart = l
          if (l >= 0 && text.charAt(l) == ')') {
            var d = 0
            var k = l
            while (k >= 0) {
              if (text.charAt(k) == ')') d += 1
              else if (text.charAt(k) == '(') { d -= 1; if (d == 0) { lStart = k; k = -1 } }
              if (k >= 0) k -= 1
            }
            // include a function name directly before the paren —
            // unless it is a keyword (`select(4-a3)/2` is a projection,
            // not a call to a function named select)
            var k2 = lStart - 1
            while (k2 >= 0 && (text.charAt(k2).isLetterOrDigit ||
              text.charAt(k2) == '_')) k2 -= 1
            val word = text.substring(k2 + 1, lStart).toLowerCase
            if (!NonCallKeywords.contains(word)) lStart = k2 + 1
          } else {
            var k = l
            while (k >= 0 && (text.charAt(k).isLetterOrDigit ||
              text.charAt(k) == '_' || text.charAt(k) == '.')) k -= 1
            lStart = k + 1
          }
          // right operand
          var r = i + 1
          while (r < text.length && text.charAt(r).isWhitespace) r += 1
          var rEnd = r
          if (r < text.length && (text.charAt(r) == '-' ||
            text.charAt(r) == '+')) rEnd = r + 1
          if (rEnd < text.length && text.charAt(rEnd) == '(') {
            var d = 0
            var k = rEnd
            while (k < text.length) {
              if (text.charAt(k) == '(') d += 1
              else if (text.charAt(k) == ')') { d -= 1; if (d == 0) { rEnd = k; k = text.length } }
              if (k < text.length) k += 1
            }
          } else {
            var k = rEnd
            while (k < text.length && (text.charAt(k).isLetterOrDigit ||
              text.charAt(k) == '_' || text.charAt(k) == '.')) k += 1
            // function call?
            if (k < text.length && text.charAt(k) == '(') {
              var d = 0
              while (k < text.length) {
                if (text.charAt(k) == '(') d += 1
                else if (text.charAt(k) == ')') { d -= 1; if (d == 0) { k += 1; rEnd = k - 1; k = text.length } }
                if (k < text.length) k += 1
              }
            } else rEnd = k - 1
          }
          val left = text.substring(lStart, l + 1)
          val right = text.substring(i + 1, rEnd + 1).trim
          if (left.nonEmpty && right.nonEmpty &&
            !operandEndsWithDouble(left) && !operandEndsWithDouble(right)) {
            text = text.substring(0, lStart) + s"($left div $right)" +
              text.substring(rEnd + 1)
            changed = true
          } else i += 1
        } else i += 1
      }
    }
    text
  }

  private val NonCallKeywords = Set("select", "where", "when", "then", "else",
    "and", "or", "not", "on", "in", "from", "join", "having", "group",
    "order", "by", "union", "all", "distinct", "as", "case", "end",
    "between", "exists", "limit", "values", "intersect", "except")

  private val CountEmpty = """(?i)\bcount\s*\(\s*\)""".r

  private def touchesTpch(sql: String): Boolean = {
    val l = sql.toLowerCase
    Seq("lineitem", "orders", "customer", "supplier", "partsupp",
      "nation", "region").exists(l.contains) ||
      """\bfrom\s+part\b|\bjoin\s+part\b""".r.findFirstIn(l).isDefined
  }

  /** Every micro-table column is INT — avg over them is C#
    * `dynamic int-sum / long-count`, i.e. truncating.
    */
  private val MicroInts: Set[String] =
    (for (p <- Seq("a", "b", "c", "d", "r", "t"); k <- 1 to 4)
      yield s"$p$k").toSet

  private lazy val tpchTypes =
    RefRegress.columnTypeSets("/root/reference/tpch/sql_scripts/tpch.sql")

  /** All battery rewrites for one statement. */
  def shim(sql: String): String = {
    val counted = CountEmpty.replaceAllIn(sql, "count(*)")
    val pre = substringEndPos(counted)
    if (touchesTpch(sql))
      RefRegress.qpmodelize(pre, tpchTypes._1, tpchTypes._2)
    else
      intDivide(RefRegress.qpmodelize(pre, MicroInts, Set.empty))
  }

  // -------------------------------------------- repair-on-error shims

  /** qpmodel accepts a PARTIAL derived-table column-alias list —
    * `(select a3, a4 from a) b(a4)` — renaming the first k output
    * columns and TRUNCATING the derived table to them (the committed
    * expectations show k-column `select *` output,
    * UnitTest.cs:1125/2645-2649; DuckDB also accepts the list but keeps
    * the remaining columns). Spark requires the full list
    * (ASSIGNMENT_ARITY_MISMATCH), so on that error each
    * `UnresolvedSubqueryColumnAliases` shorter than its child's analyzed
    * arity n becomes the equivalent explicit form
    * `(select c1..ck from (Q) t(c1..ck, __pad{k+1}..__pad{n})) t`.
    * The transform runs bottom-up, so a nested site is padded before
    * the arity of the site around it is taken (an outer site's child
    * may not analyze until its own nested site is fixed); a child that
    * does not analyze on its own (a correlated one) stays as written.
    */
  def padDerivedAliases(spark: SparkSession,
      plan: LogicalPlan): Option[LogicalPlan] = {
    def arity(q: LogicalPlan) =
      Try(GraftBridge.ofRows(spark, q).columns.length).getOrElse(0)
    val padded = plan.transformUpWithSubqueries {
      case site @ SubqueryAlias(id, UnresolvedSubqueryColumnAliases(names, q)) =>
        val pads = (names.size until arity(q)).map(k => s"__pad${k + 1}")
        if (pads.isEmpty) site
        else SubqueryAlias(id, Project(names.map(n => UnresolvedAttribute(Seq(n))),
          SubqueryAlias(id, UnresolvedSubqueryColumnAliases(names ++ pads, q))))
    }
    Some(padded).filter(_ != plan)
  }

  /** qpmodel lets a table alias share a column's name and still
    * resolves qualified uses to the alias — `from a a1 … a1.a1` — even
    * from a nested subquery (UnitTest.cs:1369). Spark resolves the
    * outer reference `a1.a1` as FIELD EXTRACTION from the INT column
    * a1 (INVALID_EXTRACT_BASE_FIELD_TYPE); renaming each table alias
    * that names a column of a statement table (and its qualified uses)
    * to a fresh `<alias>__t` restores the intended binding without
    * touching statements that already resolve.
    */
  def renameShadowAliases(spark: SparkSession,
      plan: LogicalPlan): Option[LogicalPlan] = {
    val schema = graft.plans.CorrelationRepair.StatementSchema.of(spark, plan)
    val shadows = plan.collectWithSubqueries {
      case SubqueryAlias(id, _: UnresolvedRelation)
          if schema.owners(id.name).nonEmpty => id.name.toLowerCase
    }.toSet
    def shadowing(q: String) = shadows(q.toLowerCase)
    if (shadows.isEmpty) None
    else Some(plan.transformUpWithSubqueries {
      case SubqueryAlias(id, r: UnresolvedRelation) if shadowing(id.name) =>
        SubqueryAlias(id.name + "__t", r)
    }.transformAllExpressionsWithSubqueries {
      case UnresolvedAttribute(q +: rest) if rest.nonEmpty && shadowing(q) =>
        UnresolvedAttribute((q + "__t") +: rest)
      case UnresolvedStar(Some(q +: rest)) if shadowing(q) =>
        UnresolvedStar(Some((q + "__t") +: rest))
    })
  }

  /** Analyze `sql`, applying the error-triggered repairs (at most once
    * each) — statements that analyze clean never get rewritten.
    * One driver, shared with the engine surface
    * ([[graft.plans.CorrelationRepair.analyzeRepairedWith]]); the
    * battery composes its two plan shims (derived-alias padding, alias
    * shadowing) ahead of the engine's correlation repairs. The
    * correlation repairs resolve column ownership against the session
    * catalog (r15) — the micro tables are loaded as catalog tables, so
    * the battery exercises the same schema-resolution path a real
    * schema does.
    */
  def analyzeRepaired(spark: SparkSession, sql: String)
      : org.apache.spark.sql.DataFrame =
    graft.plans.CorrelationRepair.analyzeRepairedWith(spark, sql,
      (msg, plan) =>
        if (msg.contains("ASSIGNMENT_ARITY_MISMATCH"))
          padDerivedAliases(spark, plan)
        else if (msg.contains("INVALID_EXTRACT_BASE_FIELD_TYPE"))
          renameShadowAliases(spark, plan)
        else graft.plans.CorrelationRepair.correlationRepairs(spark)(msg, plan))

  // ------------------------------------------------------- environment

  private val MicroSchemas: Seq[(String, String)] = Seq(
    "test" -> "t", "a" -> "a", "b" -> "b", "c" -> "c", "d" -> "d",
    "r" -> "r", "ad" -> "a", "bd" -> "b", "cd" -> "c", "dd" -> "d",
    "ar" -> "a", "br" -> "b", "arb" -> "a", "brb" -> "b")

  /** (Re)load the reference's own micro-table data (the `.tbl` files
    * under `/root/reference/data`) as writable catalog tables in the
    * current database — INSERT-dependent methods mutate them; `ast`
    * (bounded stream with timestamps) loads as a view.
    */
  def loadMicroTables(spark: SparkSession): Unit = {
    MicroSchemas.foreach { case (t, p) =>
      val schema = StructType((1 to 4).map(k =>
        StructField(s"$p$k", IntegerType)))
      spark.read.option("delimiter", "|").schema(schema)
        .csv(s"/root/reference/data/$t.tbl")
        .write.mode("overwrite").saveAsTable(t)
    }
    val astSchema = StructType(StructField("a0", TimestampType) +:
      (1 to 4).map(k => StructField(s"a$k", IntegerType)))
    spark.read.option("delimiter", "|")
      .option("timestampFormat", "MM/dd/yyyy HH:mm:ss")
      .schema(astSchema)
      .csv("/root/reference/data/ast.tbl")
      .createOrReplaceTempView("ast")
  }

  /** The reference registers a `sqroot` scalar UDF formatting via C#
    * `"#.###"` (UnitTest.cs:3259-3261) — reproduced for the battery.
    */
  def registerUdfs(spark: SparkSession): Unit =
    spark.udf.register("sqroot", (d: Double) => {
      val bd = new java.math.BigDecimal(math.sqrt(d))
        .setScale(3, java.math.RoundingMode.HALF_EVEN)
        .stripTrailingZeros()
      val s = bd.toPlainString
      if (s.startsWith("0.")) s.substring(1) else s
    })

  // ------------------------------------------------------------ replay

  sealed trait Outcome
  case object Pass extends Outcome
  final case class Fail(detail: String) extends Outcome
  final case class Errored(msg: String) extends Outcome
  /** A NegCheck this engine ACCEPTED (the reference rejects it). */
  final case class NegAccepted(rows: Int) extends Outcome

  final case class Result(method: String, line: Int, sql: String,
                          outcome: Outcome)

  def replayAll(spark: SparkSession, events: Seq[Event]): Seq[Result] = {
    val results = Seq.newBuilder[Result]
    var method = "<top>"
    var dirty = false
    events.foreach {
      case Method(name, _) =>
        if (dirty) { loadMicroTables(spark); dirty = false }
        method = name
      case Exec(sql, _) =>
        graft.SqlRunner.splitStatements(sql).map(_.trim).filter(_.nonEmpty)
          .foreach { stmt =>
            try {
              graft.SqlDialect.exec(spark, shim(stmt))
                .getOrElse(analyzeRepaired(spark, shim(stmt))).collect()
              dirty = true
            } catch { case _: Throwable => () }
          }
      case NegCheck(sql, line) =>
        val outcome =
          try {
            val stmts = graft.SqlRunner.splitStatements(sql)
              .map(_.trim).filter(_.nonEmpty).map(shim)
            val n = stmts.map { s =>
              graft.SqlDialect.exec(spark, s) match {
                case Some(df) => df.collect().length
                case None => RefRegress.resultLines(spark.sql(s)).size
              }
            }.last
            dirty = true // an accepted statement may have mutated state
            NegAccepted(n)
          } catch { case _: Throwable => Pass } // rejected: parity
        results += Result(method, line, sql, outcome)
      case Check(sql, expected, line) =>
        val outcome =
          try {
            val stmts = graft.SqlRunner.splitStatements(sql)
              .map(_.trim).filter(_.nonEmpty).map(shim)
            val rows = stmts.map(s =>
              RefRegress.resultLines(analyzeRepaired(spark, s))).last
            // the inline format cannot represent an all-NULL row
            // distinctly (it renders empty) — normalize both sides
            val exp = expected.split(";", -1).toSeq.filter(_.nonEmpty)
            RefRegress.diff(exp, rows) match {
              case RefRegress.Mismatch(d) => Fail(d.replace("\n", " | "))
              case _ => Pass
            }
          } catch {
            case e: Throwable =>
              Errored(Option(e.getMessage).getOrElse(e.getClass.getName)
                .replace("\n", " ").take(200))
          }
        results += Result(method, line, sql, outcome)
    }
    results.result()
  }
}
