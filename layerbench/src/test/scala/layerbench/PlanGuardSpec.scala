package layerbench

import java.io.File
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The plan guard: every timed action's executed plan must still hold its
 * st_* expressions and its sink, so a kernel the optimizer pruned cannot
 * pass as a fast one. Run from the benchmark's directory with `sbt test`.
 */
class PlanGuardSpec extends AnyFunSuite {
  private lazy val work = {
    val d = new File("../.bench_build/work/plan-guard-spec")
    FileUtils.deleteQuietly(d)
    d.mkdirs()
    d
  }
  private lazy val spark = Main.session(work)

  private def ctx(tally: Tally = new Tally) = new Ctx(Main.phaseSession(spark), 7L, work, tally)

  test("every timed action keeps its st_* expressions and writes to its sink") {
    val tally = new Tally
    val phases = Seq(
      new PipelinePhase(ctx(tally), 2000L),
      new JoinPhase(ctx(tally), JoinSizes(stars = 30, pipPoints = 2000, geomPerSide = 200, knnPoints = 500,
        knnTargets = 500), Inputs.CrossingVertices),
      new SqlPhase(ctx(tally), 60, 1024))
    phases.foreach(_.setup())
    phases.foreach { p => p.ctx.guarding = true; p.unit(verify = true) }
    assert(tally.problems.isEmpty, tally.problems.mkString("; "))
    assert(tally.failed == 0 && tally.attempted > 20)
  }

  test("the guard rejects an action whose kernel was pruned") {
    val c = ctx()
    val df = c.spark.range(100).select(graft.sql.functions.st_area(
      graft.sql.functions.st_point(col("id").cast("double"), lit(1.0))).as("a"))
    c.guarding = true
    // count() drops the projected st_area: the executed plan has no StArea
    c.act("sql", "count", Seq("StArea"))(df.count())
    assert(c.tally.failed == 1 && c.tally.problems.exists(_.contains("StArea")))
    c.act("sql", "noop", Seq("StArea", "noop"))(Ctx.sink(df))
    assert(c.tally.failed == 1)
  }
}
