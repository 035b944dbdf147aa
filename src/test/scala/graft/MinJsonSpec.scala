package graft

import org.scalatest.funsuite.AnyFunSuite

/** MinJson.str — the one JSON string escaper every hand-rolled emitter
  * (Verify's oracle dump, the publish manifest, Bench's artifact)
  * shares. */
class MinJsonSpec extends AnyFunSuite {

  test("escapes quote, backslash, newline, tab and control chars") {
    val nasty = "tab\there \"quoted\" back\\slash\nnewline \u0001ctl"
    assert(MinJson.str(nasty) ==
      "\"tab\\there \\\"quoted\\\" back\\\\slash\\nnewline \\u0001ctl\"")
  }
}
