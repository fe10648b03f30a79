package graft

import java.nio.charset.{Charset, StandardCharsets}
import org.scalatest.funsuite.AnyFunSuite

/** The forked JVM's fixed flags hold whatever the host locale is: with no
  * `LANG` set, JDK 17 would default to US-ASCII and print every non-ASCII
  * character of a log line (an em dash, an accented value) as `?`. */
class ForkedJvmSpec extends AnyFunSuite {

  test("default charset is UTF-8") {
    assert(Charset.defaultCharset == StandardCharsets.UTF_8)
  }
}
