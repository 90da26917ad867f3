package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Batch SQL file runner — the reference's third entry point
  * (`/root/reference/qpmodel/Program.cs:128-178` `RunSQLFromFile`: split
  * the file on ';', skip blanks/comments, execute each statement, print
  * plan + result, write `<file>.out`).
  *
  * Usage: `runMain graft.SqlRunner <sfDir> <file.sql> [more.sql ...]`
  * Flags: `--explain` also prints each statement's formatted physical
  * plan; `--out` writes `<file>.out` beside each input like the
  * reference does.
  *
  * Statements run against the full registered catalog (TESTDATA.md
  * tables), so any corpus oracle SQL is directly runnable. Results print
  * capped at [[maxShowRows]] rows — the runner is a driver/demo surface;
  * unbounded result dumps to a console are an anti-pattern at scale.
  */
object SqlRunner {

  val maxShowRows = 50

  /** Execute one statement through the engine surface: qpmodel dialect
    * forms via [[SqlDialect]], everything else plain Spark SQL — with
    * the multi-level-correlation repairs
    * ([[graft.plans.CorrelationRepair]]) applied on analyzer rejection
    * when `spark.graft.sql.correlationRepair` is set (opt-in; a clean
    * statement is never rewritten).
    */
  def exec(spark: SparkSession, sql: String): DataFrame =
    SqlDialect.exec(spark, sql).getOrElse {
      if (graft.plans.CorrelationRepair.enabled(spark))
        graft.plans.CorrelationRepair.analyzeRepaired(spark, sql)
      else spark.sql(sql)
    }

  /** Split SQL text into statements: `;` terminates a statement except
    * inside single-quoted strings (backslash-escaped quotes — Spark's
    * default literal syntax — stay inside the string); `--`-to-EOL
    * comments are stripped during the same quote-aware scan (so `--`
    * INSIDE a string literal is content, not a comment); comment-only
    * and blank statements are dropped. (The reference splits naively on
    * ';', which breaks on quoted semicolons — this runner keeps its
    * file format but handles those.)
    */
  def splitStatements(text: String): Seq[String] = {
    val (done, tail, _) = scan(text)
    done ++ Some(tail.trim).filter(_.nonEmpty)
  }

  /** Split `text` into the statements that are COMPLETE (terminated by
    * an unquoted `;`) and the unfinished remainder, verbatim — the
    * incremental variant of [[splitStatements]] the REPL needs to know
    * when to keep reading lines vs execute.
    */
  def completeStatements(text: String): (Seq[String], String) = {
    val (done, _, restFrom) = scan(text)
    (done, text.substring(restFrom))
  }

  /** The one quote- and comment-aware pass behind both splitters: the
    * `;`-terminated statements (comments stripped, blanks dropped), the
    * comment-stripped text after the last unquoted `;`, and the offset
    * in `text` where that text starts.
    */
  private def scan(text: String): (Seq[String], String, Int) = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var restFrom = 0
    var i = 0
    var inQuote = false
    var inComment = false
    while (i < text.length) {
      val c = text.charAt(i)
      if (inComment) {
        // drop comment chars; keep the newline so tokens stay separated
        if (c == '\n') { cur.append(c); inComment = false }
      } else if (inQuote) {
        cur.append(c)
        if (c == '\\' && i + 1 < text.length) {
          cur.append(text.charAt(i + 1)); i += 1
        } else if (c == '\'') inQuote = false
      } else if (c == '\'') {
        cur.append(c); inQuote = true
      } else if (c == '-' && i + 1 < text.length && text.charAt(i + 1) == '-') {
        inComment = true; i += 1
      } else if (c == ';') {
        out += cur.result(); cur.clear(); restFrom = i + 1
      } else cur.append(c)
      i += 1
    }
    (out.result().map(_.trim).filter(_.nonEmpty), cur.result(), restFrom)
  }

  /** Interactive loop — the reference's REPL entry point
    * (`/root/reference/qpmodel/Program.cs:180-351`: read a line, `q`/
    * `exit` quits, otherwise execute and print). Lines accumulate until
    * an unquoted `;` completes a statement (multi-line statements work);
    * `exit` / `quit` / `q` alone on a fresh line ends the session.
    * Errors print and the loop continues, exactly like the batch path.
    *
    * Testable core: lines in, rendered results out via `out`.
    */
  def repl(spark: SparkSession, lines: Iterator[String],
           out: String => Unit, explain: Boolean = false,
           analyze: Boolean = false): Unit = {
    val buf = new StringBuilder
    var n = 0
    for (line <- lines) {
      if (buf.toString.trim.isEmpty &&
          Set("exit", "quit", "q").contains(line.trim.toLowerCase))
        return
      buf.append(line).append('\n')
      val (done, rest) = completeStatements(buf.toString)
      buf.clear(); buf.append(rest)
      done.foreach { sql =>
        n += 1
        try out(s"-- [$n] $sql\n" + render(exec(spark, sql),
          explain, analyze))
        catch { case e: Exception =>
          out(s"-- [$n] $sql\nERROR: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    }
  }

  /** Execute every statement in `path` against `spark`, returning
    * (1-based statement number, sql, Right(result) | Left(error)).
    * Failures don't abort the batch (reference behavior).
    */
  def runFile(spark: SparkSession, path: String)
      : Seq[(Int, String, Either[String, DataFrame])] = {
    val text = new String(Files.readAllBytes(Paths.get(path)),
      StandardCharsets.UTF_8)
    splitStatements(text).zipWithIndex.map { case (sql, i) =>
      // qpmodel dialect forms (CREATE STREAM / distributed-by / COPY)
      // execute through the shim; everything else is plain Spark SQL
      // (with opt-in correlation repair — see exec()).
      try (i + 1, sql, Right(exec(spark, sql)))
      catch { case e: Exception =>
        (i + 1, sql, Left(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    }
  }

  private def render(df: DataFrame, explain: Boolean,
                     analyze: Boolean = false): String = {
    val plan = if (explain)
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode) + "\n"
    else ""
    // EXPLAIN ANALYZE mode (reference `Plan.cs:125-141` prints the plan
    // with PhysicProfiling row counters after execution): run the
    // statement once discarding rows executor-side, then show the final
    // adaptive plan with each operator's actual output rows. The row
    // PREVIEW below is a second (limited) execution — profiling a
    // statement costs one full run plus the capped display run, the
    // same contract as the reference's EXPLAIN ANALYZE re-execution.
    val profile = if (analyze) {
      df.queryExecution.toRdd.foreachPartition(_ => ())
      // est= precedes rows= so a reader scans planned-vs-actual left to
      // right; est is the optimizer's cardinality (CBO rowCount or the
      // size-derived fallback), rows the SQLMetrics actual.
      graft.api.PlanIntrospection.estimateVsActual(df).map { p =>
        val eq = if (p.estExact) "=" else "~"
        "  " * p.depth + p.node +
          p.estRows.map(e => s"  est$eq$e").getOrElse("") +
          p.actualRows.map(r => s"  rows=$r").getOrElse("")
      }.mkString("== executed profile ==\n", "\n", "\n")
    } else ""
    val rows = df.limit(maxShowRows + 1).collect()
    val shown = rows.take(maxShowRows)
    val header = df.columns.mkString(", ")
    val body = shown.map(_.toSeq.map {
      case null => "NULL"
      case v => v.toString
    }.mkString(", ")).mkString("\n")
    val more = if (rows.length > maxShowRows) s"\n... (truncated at $maxShowRows rows)" else ""
    s"$plan$profile$header\n$body$more"
  }

  def main(args: Array[String]): Unit = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    val unknown = flags.filterNot(Set("--explain", "--analyze", "--out", "--repl"))
    require(unknown.isEmpty, s"unknown flag(s): ${unknown.mkString(" ")} " +
      "(supported: --explain --analyze --out --repl)")
    val explain = flags.contains("--explain")
    val analyze = flags.contains("--analyze")
    val writeOut = flags.contains("--out")
    val isRepl = flags.contains("--repl")
    // REPL mode takes exactly the sfDir — extra .sql files would be
    // silently ignored, so reject them loudly. Same for --out: the REPL
    // prints to stdout and never writes parquet.
    require(!(isRepl && writeOut),
      "--out is not supported in --repl mode (REPL results go to stdout)")
    require(if (isRepl) positional.length == 1 else positional.length >= 2,
      "usage: SqlRunner <sfDir> <file.sql> [more.sql ...] [--explain] [--analyze] [--out]" +
        " | SqlRunner <sfDir> --repl [--explain] [--analyze]")
    val sfDir = positional(0)
    val spark = GraftSession.local(dataDir = Some(sfDir))
    catalog.Tables.registerAll(spark, sfDir)
    if (isRepl) {
      println(s"graft SQL repl on $sfDir — end statements with ';', " +
        "'exit' quits")
      repl(spark, scala.io.Source.stdin.getLines(),
        s => println(s + "\n"), explain, analyze)
      println("[sqlrunner] repl done")
      return
    }
    var failures = 0
    positional.drop(1).foreach { file =>
      val outputs = runFile(spark, file).map {
        case (n, sql, Right(df)) =>
          // render() executes the statement, so runtime errors (ANSI-mode
          // div-by-zero, bad casts) land HERE, not at spark.sql() — catch
          // them too: the batch must not abort (reference behavior).
          try {
            val body = render(df, explain, analyze)
            println(s"-- [$file:$n] $sql\n$body\n")
            s"$n: $sql\n$body"
          } catch { case e: Exception =>
            failures += 1
            val err = s"${e.getClass.getSimpleName}: ${e.getMessage}"
            println(s"-- [$file:$n] $sql\nERROR: $err\n")
            s"$n: $sql\nERROR: $err"
          }
        case (n, sql, Left(err)) =>
          failures += 1
          println(s"-- [$file:$n] $sql\nERROR: $err\n")
          s"$n: $sql\nERROR: $err"
      }
      if (writeOut)
        Files.write(Paths.get(file + ".out"),
          outputs.mkString("\n\n").getBytes(StandardCharsets.UTF_8))
    }
    println(s"[sqlrunner] done, $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
