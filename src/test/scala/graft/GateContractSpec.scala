package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.sys.process._

/** The local oracle gate's own regression test
  * (`tools/test_gate_contract.py`: INT96 timestamps, integer widening,
  * int64 precision) runs with the suite, so a change to
  * `tools/local_verify.py` that breaks its contract fails here. A
  * missing `python3` or `pyarrow` fails the case: the gate needs both.
  */
class GateContractSpec extends AnyFunSuite {
  test("tools/test_gate_contract.py exits 0") {
    val out = new StringBuilder
    val log = ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n'))
    val rc = Seq("python3", "tools/test_gate_contract.py").!(log)
    assert(rc === 0, s"gate contract failed (exit $rc):\n$out")
  }
}
