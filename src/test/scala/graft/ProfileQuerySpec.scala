package graft

import java.nio.file.{Files, Paths}
import graft.tools.ProfileQuery

/** `ProfileQuery.profile` on the shared session: one query that builds a
  * `Stage.sharedTable` before its final read (m02) and one that does not
  * (q01). Each prints a non-empty plan block, and the last pass's jobs are
  * all on the listener when `profile` returns, because it drains the bus
  * before reading it. The summary line carries the last pass's compiled
  * classes and compile time, and a warmed query compiles none.
  */
class ProfileQuerySpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  Seq("m02_route_audit", "q01_pricing_summary").foreach { name =>
    test(s"$name: plan block present and non-empty, last-pass jobs drained") {
      val p = ProfileQuery.profile(spark, sfDir, name, passes = 2)
      val out = ProfileQuery.render(p)
      val open = s"=== PLAN $name ===\n"
      val close = s"\n=== END $name ==="
      assert(out.startsWith(open) && out.contains(close), out.take(500))
      val block = out.substring(open.length, out.indexOf(close))
      assert(block.contains("== Physical Plan =="), block)

      assert(p.jobs.nonEmpty, "the listener saw no job for the last pass")
      // the timed read's jobs (AQE's shuffle stages included) carry its
      // execution's call site; their end events are on the listener only
      // once the bus has been drained
      val reads = p.jobs.filter(_.desc.startsWith("save at ProfileQuery.scala"))
      assert(reads.nonEmpty, p.jobs.map(_.desc).mkString("\n"))
      assert(reads.forall(_.ms >= 0), s"job ends missing: $reads")

      val summary = out.linesIterator.find(_.startsWith(s"=== $name: last-pass wall "))
      assert(summary.exists(_.endsWith(
        f"${p.compiled} classes compiled, compile ${p.compileMs}%.0f ms ===")), out.take(500))
    }
  }

  test("q01_pricing_summary's second pass compiles no class") {
    val p = ProfileQuery.profile(spark, sfDir, "q01_pricing_summary", passes = 2)
    assert(p.compiled == 0, s"second pass compiled ${p.compiled} classes in ${p.compileMs} ms")
  }

  test("the listener bus is drained with drainListeners, not a sleep") {
    val src = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/tools/ProfileQuery.scala")), "UTF-8")
    assert(src.contains("CatalystBridge.drainListeners("))
    assert(!src.contains("Thread.sleep"))
  }
}
