package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{DebeziumEnvelope => DE}

/** The Debezium envelope's DDL action classifier, parsed from the
  * reference codec source. */
class DebeziumEnvelopeSpec extends AnyFunSuite {

  test("Debezium DDL action classifier, parsed from codec.go") {
    val src = RefSource.source("pkg/sink/codec/debezium/codec.go")
    val fn = src.substring(
      src.indexOf("func (c *dbzCodec) EncodeDDLEvent"),
      src.indexOf("// message key"))
    val armRe =
      """(?s)case ((?:\s*timodel\.Action\w+,?)+):\s*changeType = "(\w+)"""".r
    var checked = 0
    for (m <- armRe.findAllMatchIn(fn);
         a <- """Action(\w+)""".r.findAllMatchIn(m.group(1))
           .map(_.group(1))) {
      assert(DE.ddlChangeType(a) == Right(m.group(2)),
        s"$a should classify ${m.group(2)}")
      checked += 1
    }
    assert(checked >= 30, s"only $checked action arms parsed")
    // the default arm is the unsupported-DDL terror
    assert(fn.contains("ErrDDLUnsupportType"))
    assert(DE.ddlChangeType("AddForeignKey") ==
      Left("ErrDDLUnsupportType"))
  }
}
