package graft

import scala.sys.process._
import org.scalatest.funsuite.AnyFunSuite

/** The repository's source checks, run from the build's base directory (the
  * forked test JVM's working directory): each must exit 0, and its output is
  * the failure message when it does not. */
class SourceChecksSpec extends AnyFunSuite {
  private val base = new java.io.File(sys.props("user.dir"))

  private def check(script: String): Unit = {
    val out = new StringBuilder
    val log = ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n'))
    val code = Process(Seq("python3", script), base).!(log)
    assert(code == 0, s"python3 $script exited $code:\n$out")
  }

  test("tools/reach.py: every src/main declaration is reached") {
    check("tools/reach.py")
  }

  test("tools/gate_literals.py: the gate registry passes no numeric literal") {
    check("tools/gate_literals.py")
  }
}
