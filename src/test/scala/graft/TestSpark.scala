package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** One shared engine session for all suites (session startup is ~5s;
  * per-suite sessions would dominate test wall-clock).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    // build, not configure+getOrCreate: the suites must test the
    // complete engine, including the post-reorder optimizer rules that
    // live outside spark.sql.extensions.
    val s = GraftSession.build(
      SparkSession.builder()
        .master("local[4]")
        .appName("graft-test")
        .config("spark.sql.shuffle.partitions", "4"))
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val sfDir = "/root/testdata/sf0.001"

  /** The sf0.01 corpus beside [[sfDir]] — the plan-golden gate scale. */
  val sf001Dir: String =
    new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01").getPath

  /** Micro-table fixtures from FIXTURES.md §1 (reference
    * `Catalog.createBuildInTestTables`, Catalog.cs:259-310: tables a/b/c/d
    * with rows (0,1,2,3),(1,2,3,4),(2,3,4,5); r carries NULLs for
    * 3VL tests).
    */
  def registerMicroTables(): Unit = {
    val s = spark
    import s.implicits._
    def micro(prefix: String): DataFrame =
      Seq((0, 1, 2, 3), (1, 2, 3, 4), (2, 3, 4, 5))
        .toDF(s"${prefix}1", s"${prefix}2", s"${prefix}3", s"${prefix}4")
    Seq("a", "b", "c", "d").foreach(p =>
      micro(p).createOrReplaceTempView(p))
    Seq[(Integer, Integer, Integer, Integer)](
      (0, 1, 2, 3), (1, 2, null, 4), (2, null, 4, 5), (null, 3, 4, null))
      .toDF("r1", "r2", "r3", "r4").createOrReplaceTempView("r")
  }

  /** Rows as a canonical sorted Seq of Seq[Any] for order-insensitive
    * comparison.
    */
  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  /** Seed-pinned ScalaCheck sampling — deterministic corpora for the
    * property suites (seeds 1..n, one sample each; a failing seed
    * reproduces exactly).
    */
  def samples[A](g: org.scalacheck.Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(org.scalacheck.Gen.Parameters.default,
      org.scalacheck.rng.Seed(i.toLong)))

  /** The executed physical plan string (forces execution so AQE has
    * finalized its plan before inspection). Under AQE this is the final
    * adaptive plan alone — not the wrapper's print, whose pre-adaptive
    * "Initial Plan" section would show operators that never ran.
    */
  def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
  }
}
