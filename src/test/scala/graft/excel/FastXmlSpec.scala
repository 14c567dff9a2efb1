package graft.excel

import java.io.StringReader

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.excel.FastXml
import graft.sources.excel.FastXml._

/** `attr()` reads the reused attribute buffers of the CURRENT start tag;
  * after any other event those buffers describe a tag that is gone, so
  * the call must throw rather than hand back a stale value.
  */
class FastXmlSpec extends AnyFunSuite {

  test("attr after an END or TEXT event throws instead of returning a " +
      "stale value") {
    val fx = new FastXml(new StringReader("""<c r="A1" t="s"><v>7</v></c>"""))
    assert(fx.next(false) == EVENT_START && fx.nameIs("c"))
    assert(fx.attr("r") == "A1" && fx.attr("t") == "s" && fx.attr("x") == null)
    assert(fx.next(false) == EVENT_START && fx.nameIs("v"))
    assert(fx.attr("r") == null)
    assert(fx.next(true) == EVENT_TEXT && fx.text == "7")
    intercept[IllegalStateException](fx.attr("r"))
    assert(fx.next(false) == EVENT_END && fx.nameIs("v"))
    intercept[IllegalStateException](fx.attr("r"))
    assert(fx.next(false) == EVENT_END && fx.nameIs("c"))
    intercept[IllegalStateException](fx.attr("t"))
    assert(fx.next(false) == EVENT_EOF)
  }
}
