package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The ad-hoc run harness: argument validation (no Spark needed) and one
  * corpus query end to end.
  */
class RunSpec extends AnyFunSuite {
  import TestSpark._

  private def rejected(args: String*): String =
    intercept[IllegalArgumentException](Run.parse(args)).getMessage

  test("bad arguments are rejected with a usage message that lists the " +
    "valid targets") {
    Seq(
      rejected(sfDir, "tpch_q6", "--conf=no_value") -> "malformed --conf",
      rejected(sfDir, "tpch_q6", "--conf==v") -> "malformed --conf",
      rejected(sfDir, "no_such_query") -> "unknown query no_such_query",
      rejected("@no_such_scenario") -> "unknown scenario @no_such_scenario",
      rejected(sfDir, "tpch_q6", "--reps=0") -> "--reps=0",
      rejected("@bloom") -> "missing parameter(s) dir",
      rejected("@bloom", "dir=x", "k=8") -> "@bloom takes no parameter k",
      rejected(sfDir, "tpch_q6", "--repz=2") -> "unknown flag --repz=2",
      rejected("@census", "dir=x", "--plans=p") -> "--plans"
    ).foreach { case (msg, why) =>
      assert(msg.contains(why), msg.take(200))
      assert(msg.contains("usage: graft.Run"))
      assert(Scenarios.all.forall(s => msg.contains("@" + s.id)))
      assert(Queries.all.forall(d => msg.contains(d.name)))
    }
    val ok = Run.parse(Seq("@search", "dir=d", "--reps=2", "--conf=a.b=c=d"))
    assert(ok.scenario.map(_.id).contains("search"))
    assert(ok.params == Map("dir" -> "d", "needle" -> "merge batch"))
    assert(ok.dir.contains("d") && ok.reps == 2 && ok.confs == Seq("a.b" -> "c=d"))
    assert(Run.parse(Seq(sfDir, "tpch_q6")).reps == 1)
  }

  test("one sf0.001 query produces a parseable JSON line with sec and " +
    "skew_joins") {
    val line = Run.runQueries(spark, sfDir, Seq(Queries.byName("tpch_q6")),
      reps = 2, plans = None)
    val q = new ObjectMapper().readTree(line).get("run").get("tpch_q6")
    assert(q.get("sec").asDouble() > 0, line)
    assert(q.get("skew_joins").asInt() == 0, line)
    assert(q.get("all").size() == 2, line)
  }
}
