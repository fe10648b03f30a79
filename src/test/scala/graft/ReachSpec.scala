package graft

import scala.sys.process._
import org.scalatest.funsuite.AnyFunSuite

/** Every member of `src/main` is reached from an entry point: the five
  * mains and `SparkEntry`. `tools/reach.py` walks the compiled call graph
  * and prints each unreached class or object member, so code that only a
  * spec calls fails here rather than accruing in `src/main`. */
class ReachSpec extends AnyFunSuite {

  test("tools/reach.py finds no unreached code in the main classes") {
    val classes = new java.io.File(
      SparkEntry.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    assert(classes.isDirectory, s"main classes are not a directory: $classes")
    val out, errs = new StringBuilder
    val code = Seq("python3", "tools/reach.py", classes.getPath) !
      ProcessLogger(l => out.append(l).append('\n'),
        l => errs.append(l).append('\n'))
    assert(code == 0, s"reach.py exited $code:\n$errs")
    val listed = out.toString
    assert(listed.isEmpty, s"code no entry point reaches:\n$listed")
  }
}
