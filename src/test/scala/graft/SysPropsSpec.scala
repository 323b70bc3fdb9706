package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.SysProps

/** The numeric `graft.*` override reader: unset keys take their default,
  * and a bad value of each failure kind names the key and the value. */
class SysPropsSpec extends AnyFunSuite {

  private val key = "graft.test.sysprops.spec"

  private def withProp[A](k: String, v: String)(body: => A): A = {
    sys.props(k) = v
    try body finally sys.props.remove(k)
  }

  private def assertRejects(k: String, v: String)(read: => Any): Unit = {
    val msg = withProp(k, v)(intercept[IllegalArgumentException](read).getMessage)
    assert(msg.contains(k) && msg.contains(s"'$v'"), msg)
  }

  test("an unset key yields its default; a valid value is read as is") {
    assert(SysProps.int(key, 64, min = 0) == 64)
    withProp(key, "3000000000")(assert(SysProps.long(key, 64, min = 0) == 3000000000L))
  }

  test("non-numeric, below-minimum and beyond-Int values fail naming key and value") {
    for (v <- Seq("sixteen", "1.5", "")) assertRejects(key, v)(SysProps.int(key, 16, min = 1))
    assertRejects(key, "0")(SysProps.int(key, 16, min = 1)) // once newFixedThreadPool(0)
    assertRejects(key, "3000000000")(SysProps.int(key, 256, min = 1))
  }

  test("a live knob rejects a bad override with its own key in the message") {
    import graft.spark.expressions.CentroidSet
    assertRejects("graft.ivf.inline.longs.max", "-1")(CentroidSet.maxInlineLongs)
    assert(CentroidSet.maxInlineLongs == (1L << 24))
  }
}
