package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class BurnSpec extends AnyFunSuite {

  test("measure compares a quarter of this host's cores with all of them") {
    val c = Burn.measure(itersPerChunk = 1000L)
    val cores = Runtime.getRuntime.availableProcessors
    assert(c.high === cores)
    assert(c.low === math.max(1, cores / 4))
    assert(!c.value.isNaN && !c.value.isInfinite && c.value > 0.0, c.json)
    assert(c.json.contains(s""""t${c.low}":""") && c.json.contains(s""""t${c.high}":"""))
  }
}
