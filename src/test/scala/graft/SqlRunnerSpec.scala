package graft

import org.scalatest.funsuite.AnyFunSuite

/** Batch SQL file runner (reference `RunSQLFromFile`,
  * `/root/reference/qpmodel/Program.cs:128-178`).
  */
class SqlRunnerSpec extends AnyFunSuite {
  import TestSpark._

  test("splitStatements: quoted semicolons, comments, blanks") {
    val split = SqlRunner.splitStatements(
      """-- leading comment
        |SELECT 'a;b' AS s;   -- trailing comment
        |
        |SELECT 1 AS x
        |-- embedded comment line
        |FROM nation;
        |;
        |""".stripMargin)
    assert(split.length == 2, split)
    assert(split.head == "SELECT 'a;b' AS s")
    assert(split(1).startsWith("SELECT 1 AS x") && split(1).endsWith("FROM nation"))
  }

  test("splitStatements: '--' inside a string literal is content, not a comment") {
    val split = SqlRunner.splitStatements(
      "SELECT 'a--b' AS s; SELECT 2 AS y -- real comment\n;")
    assert(split == Seq("SELECT 'a--b' AS s", "SELECT 2 AS y"), split)
  }

  test("splitStatements: backslash-escaped quote stays inside the literal") {
    // Spark's default literal syntax: 'don\'t; stop' is ONE string — the
    // escaped quote must not close it, or the ; inside would split.
    val split = SqlRunner.splitStatements(
      """SELECT 'don\'t; stop' AS s; SELECT 2 AS y;""")
    assert(split == Seq("""SELECT 'don\'t; stop' AS s""", "SELECT 2 AS y"),
      split)
  }

  test("runFile executes a TPC-H style batch; failures don't abort") {
    graft.catalog.Tables.registerAll(spark, sfDir)
    val sql =
      """-- q6-style scan+filter aggregate
        |SELECT CAST(SUM(l_extendedprice * l_discount) AS DECIMAL(38, 4)) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= DATE '1994-01-01'
        |  AND l_shipdate < DATE '1995-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24;
        |
        |-- join + group by
        |SELECT n_name, COUNT(*) AS n_cust
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name;
        |
        |SELECT broken FROM no_such_table;
        |
        |SELECT 'a;b' AS quoted_semi;
        |""".stripMargin
    val f = java.nio.file.Files.createTempFile("graft_batch", ".sql")
    java.nio.file.Files.write(f, sql.getBytes("UTF-8"))
    val results = SqlRunner.runFile(spark, f.toString)
    assert(results.length == 4)
    assert(results(0)._3.isRight && results(0)._3.toOption.get.collect().length == 1)
    assert(results(1)._3.isRight && results(1)._3.toOption.get.collect().nonEmpty)
    assert(results(2)._3.isLeft, "missing table must surface as an error")
    assert(results(3)._3.toOption.get.collect().head.getString(0) == "a;b")
    java.nio.file.Files.delete(f)
  }

  test("repl: multi-line statements execute on ';', errors continue, exit quits") {
    graft.catalog.Tables.registerAll(spark, sfDir)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val lines = Iterator(
      "SELECT COUNT(*) AS n",      // statement spans two lines
      "FROM nation;",
      "SELECT broken FROM no_such_table;",
      "SELECT 'a;b' AS s;",        // quoted semicolon survives
      "exit",
      "SELECT 1;")                 // never reached
    SqlRunner.repl(spark, lines, out += _)
    assert(out.length == 3, out)
    assert(out(0).contains("25"), out(0))          // 25 nations
    assert(out(1).contains("ERROR"), out(1))
    assert(out(2).contains("a;b"), out(2))
  }

  test("repl --analyze prints the executed profile with operator row counts") {
    graft.catalog.Tables.registerAll(spark, sfDir)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    SqlRunner.repl(spark,
      Iterator("SELECT n_regionkey, COUNT(*) AS c FROM nation GROUP BY n_regionkey;"),
      out += _, analyze = true)
    assert(out.length == 1)
    val body = out.head
    assert(body.contains("== executed profile =="), body)
    // The final aggregate actually emitted the 5 region groups.
    assert(body.linesIterator.exists(l =>
      l.trim.startsWith("HashAggregate") && l.endsWith("rows=5")), body)
  }

  test("completeStatements: unterminated input is remainder, not a statement") {
    val (done, rest) = SqlRunner.completeStatements(
      "SELECT 1; SELECT 'x;y' AS s; SELECT 2")
    assert(done == Seq("SELECT 1", "SELECT 'x;y' AS s"))
    assert(rest.trim == "SELECT 2")
  }

  test("property: incremental splitting agrees with whole-text splitting") {
    // For ANY input (quotes, comments, stray semicolons, newlines), the
    // REPL's incremental completeStatements must produce exactly the
    // statements batch splitStatements produces: done ++ split(remainder)
    // == split(text). Raw ScalaCheck generators, fixed seeds (the
    // scalatest bridge isn't in the offline cache).
    import org.scalacheck.{Gen, rng}
    val token = Gen.oneOf("SELECT", "1", "a", ";", "'", "--", "\n", " ",
      "x;y", "'q;q'", "-", "abc", "\\", "\\'", "'a\\';'")
    val text = Gen.listOf(token).map(_.mkString)
    val samples = (1 to 200).flatMap(i =>
      text.apply(Gen.Parameters.default, rng.Seed(i.toLong)))
    samples.foreach { t =>
      val (done, rest) = SqlRunner.completeStatements(t)
      assert(done ++ SqlRunner.splitStatements(rest) ==
        SqlRunner.splitStatements(t),
        s"mismatch on input: ${t.replace("\n", "\\n")}")
    }
  }

  test("the corpus' SQL-text queries run as a batch file (CI smoke)") {
    // Every QueryDef whose build is pure SQL text over the catalog is
    // exactly what the runner exists for; feed a representative slice
    // (the TPC-H headliners) through a real file.
    graft.catalog.Tables.registerAll(spark, sfDir)
    val stmts = Seq("tpch_q1", "tpch_q3", "tpch_q6", "tpch_q18")
      .flatMap(n => Queries.byName(n).sqlText)
    assert(stmts.length == 4, "expected SQL text for the TPC-H headliners")
    val f = java.nio.file.Files.createTempFile("graft_tpch", ".sql")
    java.nio.file.Files.write(f, stmts.mkString(";\n").getBytes("UTF-8"))
    val results = SqlRunner.runFile(spark, f.toString)
    assert(results.forall(_._3.isRight),
      results.filter(_._3.isLeft).map(r => (r._1, r._3)).mkString("; "))
    assert(results.forall(_._3.toOption.get.collect().nonEmpty))
    java.nio.file.Files.delete(f)
  }

  // ---- qpmodel dialect shims (SqlDialect): the three statement forms the
  // reference parser accepts as TEXT that Spark SQL lacks, run through the
  // same runner path a .sql file would take.

  /** DROP + clear any stale warehouse directory an aborted prior run left
    * behind (managed-table creation refuses an existing location).
    */
  private def resetTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    GraftSession.removeTargetDir(s"warehouse/$name")
  }

  test("dialect: CREATE TABLE ... distributed by -> bucketed parquet table") {
    val s = spark
    resetTable("dlct_ad")
    val r = SqlDialect.exec(s,
      "create table dlct_ad (a1 int, a2 int, a3 int, a4 int) distributed by a1")
    assert(r.isDefined, "dialect must intercept the statement")
    val meta = s.sessionState.catalog.getTableMetadata(
      s.sessionState.sqlParser.parseTableIdentifier("dlct_ad"))
    assert(meta.bucketSpec.exists(_.bucketColumnNames == Seq("a1")),
      s"expected bucketed-by-a1, got ${meta.bucketSpec}")
    assert(meta.properties.get("graft.distribution").contains("hash:a1"))
    s.sql("DROP TABLE dlct_ad")
  }

  test("dialect: CREATE STREAM maps datetime->timestamp and marks the source") {
    val s = spark
    resetTable("dlct_ainf")
    val r = SqlDialect.exec(s,
      "create stream dlct_ainf (a0 datetime, a1 int, a2 int, a3 int, a4 int)")
    assert(r.isDefined)
    val meta = s.sessionState.catalog.getTableMetadata(
      s.sessionState.sqlParser.parseTableIdentifier("dlct_ainf"))
    assert(meta.properties.get("graft.source").contains("stream"))
    assert(s.table("dlct_ainf").schema("a0").dataType ==
      org.apache.spark.sql.types.TimestampType)
    s.sql("DROP TABLE dlct_ainf")
  }

  test("dialect: ANALYZE ... FOR COLUMN GROUP registers tuple-ndv and F2") {
    val s = spark
    resetTable("dlct_cg")
    assert(SqlDialect.exec(s,
      "create table dlct_cg (a1 int, a2 int, a3 int)").isDefined)
    s.sql("INSERT INTO dlct_cg VALUES (1,1,0),(1,1,0),(1,2,0),(2,1,0)")
    val r = SqlDialect.exec(s,
      "analyze table dlct_cg compute statistics for column group (a1, a2)")
    assert(r.isDefined, "dialect must intercept the statement")
    val row = r.get.collect().head
    assert(row.getAs[Long]("tuple_ndv") == 3L) // (1,1) (1,2) (2,1)
    val props = s.sessionState.catalog.getTableMetadata(
      s.sessionState.sqlParser.parseTableIdentifier("dlct_cg")).properties
    import graft.catalog.ExtendedStats
    assert(props.get(ExtendedStats.propertyKey(Seq("a1", "a2")))
      .contains("3"))
    // F2 = 2^2 + 1 + 1 = 6 — the exact self-join size of the group.
    assert(ExtendedStats.groupF2FromProperties(props, Seq("a1", "a2"))
      .contains(6.0))
    // Analyze-time row count rides along (the broadcast rule's
    // freshness evidence), and the statement is self-sufficient: a
    // never-ANALYZEd table gets a catalog rowCount to verify against.
    assert(ExtendedStats.groupRowsFromProperties(props, Seq("a1", "a2"))
      .contains(4L))
    def catalogRowCount(): Option[BigInt] =
      s.sessionState.catalog.getTableMetadata(
        s.sessionState.sqlParser.parseTableIdentifier("dlct_cg"))
        .stats.flatMap(_.rowCount)
    assert(catalogRowCount().contains(BigInt(4)))
    // Stale-HIGH catalog count (table shrank since the last ANALYZE)
    // must refresh too, or the freshness gate (current <= recorded)
    // dis-arms the certificate forever despite current moments.
    s.sql("INSERT OVERWRITE dlct_cg VALUES (1,1,0),(2,1,0)")
    assert(SqlDialect.exec(s,
      "analyze table dlct_cg compute statistics for column group (a1, a2)")
      .isDefined)
    assert(catalogRowCount().contains(BigInt(2)),
      "self-sufficiency: a disagreeing catalog rowCount was not refreshed")
    // Standard ANALYZE forms must still fall through to plain spark.sql.
    assert(SqlDialect.exec(s,
      "analyze table dlct_cg compute statistics for all columns").isEmpty)
    // A 1-column "group" is a clear per-statement error (require with a
    // message), which SqlRunner's statement-level catch reports without
    // aborting the batch — same contract as a native parse failure.
    val e = intercept[IllegalArgumentException](SqlDialect.exec(s,
      "analyze table dlct_cg compute statistics for column group (a1)"))
    assert(e.getMessage.contains("column group"))
    s.sql("DROP TABLE dlct_cg")
  }

  test("dialect: COPY FROM '|'-csv with WHERE inserts filtered rows") {
    val s = spark
    resetTable("dlct_copy")
    assert(SqlDialect.exec(s,
      "create table dlct_copy (a1 int, a2 int) roundrobin").isDefined)
    val f = java.nio.file.Files.createTempFile("graft_copy", ".tbl")
    java.nio.file.Files.write(f, "1|10\n2|20\n3|30\n".getBytes("UTF-8"))
    val r = SqlDialect.exec(s, s"copy dlct_copy from '$f' where a2 > 10")
    assert(r.isDefined)
    assert(r.get.collect().head.getLong(0) == 2L) // rows_loaded
    val got = s.table("dlct_copy").collect().map(_.getInt(0)).toSeq.sorted
    assert(got == Seq(2, 3), s"WHERE must filter the load; table has $got")
    java.nio.file.Files.delete(f)
    s.sql("DROP TABLE dlct_copy")
  }

  test("dialect: CREATE TABLE ... replicated force-broadcasts its joins") {
    val s = spark
    resetTable("dlct_ar")
    assert(SqlDialect.exec(s,
      "create table dlct_ar (a1 int, a2 int) replicated").isDefined)
    s.sql("INSERT INTO dlct_ar VALUES (1, 10), (2, 20)")
    graft.catalog.Tables.registerAll(s, sfDir)
    // Disable the size-based path so only the replicated hint can
    // broadcast: the proof is the HINT firing, not the 10 MB threshold.
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = s.sql(
        """SELECT c.c_custkey FROM customer c
          |JOIN dlct_ar r ON c.c_nationkey = r.a1""".stripMargin)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"replicated table must broadcast under hint; plan:\n$plan")
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    s.sql("DROP TABLE dlct_ar")
  }
}
