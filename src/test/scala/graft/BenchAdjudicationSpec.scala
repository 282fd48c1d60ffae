package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The bench self-adjudication inputs (VERDICT r14 #1/#7): the
  * previous-run median parser that feeds the uniformly-slow trigger,
  * and the git-SHA stamp every artifact carries. Pure JVM — no Spark
  * session needed. */
class BenchAdjudicationSpec extends AnyFunSuite {

  private def detailJson(sf: String): String =
    s"""{"total":10.0,"total_min":9.0,"sf":"$sf","warmups":1,"reps":3,
       |"queries":{"q131_pagerank":{"sec":1.820,"sec_min":1.7},
       |"q1_agg":{"sec":0.310},"bad":{"sec":"oops"}}}""".stripMargin

  test("prevMedians parses per-query medians from a matching-sf detail file") {
    val f = Files.createTempFile("bench_detail", ".json")
    Files.writeString(f, detailJson("/root/testdata/sf0.1"))
    val m = Bench.prevMedians(f.toString, "/root/testdata/sf0.1")
    assert(m("q131_pagerank") == 1.820 && m("q1_agg") == 0.310)
    assert(!m.contains("bad")) // non-numeric sec rows are skipped, not fatal
    // the sf match is on the trailing path segment, so a detail written
    // from a differently-rooted copy of the same sf still counts
    assert(Bench.prevMedians(f.toString, "/tmp/elsewhere/sf0.1")("q1_agg") == 0.310)
  }

  test("prevMedians refuses a detail file measured at a different sf") {
    val f = Files.createTempFile("bench_detail", ".json")
    Files.writeString(f, detailJson("/root/testdata/sf0.01"))
    // an sf0.01 iteration artifact must NOT become the sf0.1 run's
    // reference — every query would read "3x slow" and the suite-end
    // isolated pass would re-run the whole registry
    assert(Bench.prevMedians(f.toString, "/root/testdata/sf0.1").isEmpty)
  }

  test("prevMedians yields empty on missing or unparseable files") {
    assert(Bench.prevMedians("/nonexistent/x.json", "sf0.1").isEmpty)
    val f = Files.createTempFile("bench_detail", ".json")
    Files.writeString(f, "not json at all {")
    assert(Bench.prevMedians(f.toString, "sf0.1").isEmpty)
  }

  test("forkIsoCommand replays the parent JVM exactly: binary, args, classpath") {
    val cmd = Bench.forkIsoCommand("/opt/jdk",
      Seq("--add-opens", "java.base/java.nio=ALL-UNNAMED", "-Xmx48g"),
      "target/classes:/opt/spark/jars/*")
    assert(cmd.head == "/opt/jdk/bin/java")
    assert(cmd.containsSlice(Seq("--add-opens", "java.base/java.nio=ALL-UNNAMED")))
    assert(cmd.contains("-Xmx48g"), "the child must inherit the parent's heap")
    assert(cmd.takeRight(3) == Seq("-cp", "target/classes:/opt/spark/jars/*", "graft.Bench"))
  }

  test("forkIsoBudgetSec scales with the offender's replay cost, never below startup slack") {
    // a sub-second offender still gets the 120 s session-startup slack
    assert(Bench.forkIsoBudgetSec(0.4, 1, 2) == 120L + 12L)
    // a 300 s offender replayed 3x with 10x noise headroom
    assert(Bench.forkIsoBudgetSec(300.0, 1, 2) == 120L + 9000L)
  }

  test("childIsoMedian only trusts a MEASURED child median") {
    val f = Files.createTempFile("bench_child", ".json")
    Files.writeString(f,
      """{"sf":"/tmp/sf10","queries":{
        |"q130_triangle_count":{"sec":108.9,"measured":true},
        |"q_failed":{"sec":0.031,"measured":false}}}""".stripMargin)
    assert(Bench.childIsoMedian(f.toString, "q130_triangle_count").contains(108.9))
    // a failed child rep's near-zero throw time must NOT publish as
    // "fast when isolated" — that would invert the adjudication
    assert(Bench.childIsoMedian(f.toString, "q_failed").isEmpty)
    assert(Bench.childIsoMedian(f.toString, "q_absent").isEmpty)
    assert(Bench.childIsoMedian("/nonexistent.json", "q130_triangle_count").isEmpty)
  }

  test("gitHead reads every checkout layout from fixtures") {
    val sha = "0123456789abcdef0123456789abcdef01234567"
    val ref = "refs/heads/main"
    def checkout(files: (String, String)*): String = {
      val dir = Files.createTempDirectory("githead")
      files.foreach { case (path, text) =>
        val f = dir.resolve(path)
        Files.createDirectories(f.getParent)
        Files.writeString(f, text)
      }
      dir.toString
    }
    assert(Bench.gitHead(checkout(".git/HEAD" -> s"$sha\n")) == sha)
    assert(Bench.gitHead(checkout(
      ".git/HEAD" -> s"ref: $ref\n", s".git/$ref" -> s"$sha\n")) == sha)
    assert(Bench.gitHead(checkout(
      ".git/HEAD" -> s"ref: $ref\n",
      ".git/packed-refs" -> (s"# pack-refs with: peeled fully-peeled sorted\n" +
        s"${"f" * 40} refs/heads/other\n$sha $ref\n"))) == sha)
    // a worktree or submodule: .git is a file pointing at the real dir
    assert(Bench.gitHead(checkout(".git" -> "gitdir: /elsewhere/.git/worktrees/w\n")) == "unknown")
    assert(Bench.gitHead(checkout()) == "unknown")
  }
}
