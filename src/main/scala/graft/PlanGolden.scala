package graft

/** Full-corpus structural plan gate — the reference golden-verifies the
  * plan TEXT of every query in every suite (`UBenchmarks.QueryVerify`,
  * `/root/reference/test/UnitTest.cs:295-355`); this is that discipline
  * at plan-STRUCTURE granularity for all corpus queries: one line per
  * query with the properties a silent de-optimization would move (join
  * strategies, exchange count, cartesian flag, generate/sort/aggregate
  * counts). Full plan text would churn on every expr-id or path change;
  * structure only moves when the plan genuinely changes shape.
  *
  * Round-end gate:
  *   sbt "runMain graft.PlanGolden /root/testdata/sf0.01" 2>/dev/null \
  *     | sed 's/^\[info\] //' | grep -E '^(# |[A-Za-z0-9_]+\|)' \
  *     > PLANS_GOLDEN.txt   # strip sbt's [info] prefixes
  *   git diff --exit-code PLANS_GOLDEN.txt
  * A diff means some query's plan changed shape this round — either a
  * deliberate improvement (commit the new golden with the change that
  * caused it) or a regression (fix it). The dir is pinned to sf0.01:
  * size-based broadcast decisions depend on input bytes, so the golden is
  * only comparable at the canonical gate scale.
  *
  * Rows are the INITIAL physical plan (pre-AQE): deterministic given data
  * + stats, which is what a text-diff gate needs; AQE's runtime re-plans
  * are asserted behaviorally in the specs instead (SkewSpec,
  * DistributionSpec). Counts are read from the plan tree by node class
  * ([[graft.api.PlanIntrospection.shape]]), never from its printed form.
  */
object PlanGolden {

  /** One structural line for a built (not executed) frame. */
  def structuralRow(name: String,
                    df: org.apache.spark.sql.DataFrame): String = {
    val shape =
      graft.api.PlanIntrospection.shape(df.queryExecution.executedPlan)
    val joins = Seq(
      "bhj" -> shape.bhj, "smj" -> shape.smj, "shj" -> shape.shj,
      "bnlj" -> shape.bnlj, "cart" -> shape.cartesian)
      .filter(_._2 > 0).map { case (n, c) => s"$c$n" }.mkString("+")
    s"$name|joins=${if (joins.isEmpty) "-" else joins}" +
      s"|exchanges=${shape.exchanges}" +
      s"|cartesian=${if (shape.cartesian > 0) "YES" else "no"}" +
      s"|generate=${shape.generates}" +
      s"|sorts=${shape.sorts}" +
      s"|aggs=${shape.aggregates}"
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: graft.PlanGolden <dir>")
    val sfDir = args(0)
    val spark = GraftSession.local(8, Some(sfDir))
    // ASCII only: the forked JVM's default stdout encoding mangles
    // multi-byte punctuation, which would make the golden host-dependent.
    println(s"# structural plan golden over $sfDir - regenerate per the " +
      "README round-end gates; any diff = a query changed plan shape")
    var failed = 0
    Queries.all.sortBy(_.name).foreach { d =>
      // Build only (no collect): golden rows are the deterministic initial
      // plan. Builds that train/checkpoint internally (kmeans, CC) still
      // run those bounded jobs — same cost profile as Verify.
      try println(structuralRow(d.name, d.build(spark, sfDir)))
      catch { case e: Throwable =>
        failed += 1
        println(s"${d.name}|ERROR=${e.getClass.getSimpleName}")
      }
    }
    System.err.println(s"[plangolden] ${Queries.all.size - failed}/" +
      s"${Queries.all.size} planned")
    spark.stop()
  }
}
