package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.sys.process._

/** The measurement tools' own checks: an A/B, timeline or A/A tool that
  * broke would otherwise only show as a wrong number in a report. Each
  * `--self-test` runs on synthetic records, reads no benchmark output and
  * writes nothing.
  */
class ToolsSelfTestSpec extends AnyFunSuite {
  for (tool <- Seq("perf_ab.py", "perf_timeline.py", "bench_aa.py")) {
    test(s"tools/$tool --self-test exits 0") {
      val out = new StringBuilder
      val log = ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n'))
      val code = Process(Seq("python3", s"tools/$tool", "--self-test")).!(log)
      assert(code == 0, s"tools/$tool --self-test exited $code:\n$out")
    }
  }
}
