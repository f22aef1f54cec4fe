package graft

import org.scalatest.funsuite.AnyFunSuite

/** A changefeed microbatch's DDL control has one owner and its body one
  * function: `DdlStream` peels the control rows and logs the barrier,
  * `OwnerBarrier` classifies the DDL text, and only `Changefeed` holds the
  * batch body (DM's full load runs it too). */
class FeedLayeringSpec extends AnyFunSuite {
  import MainSources.filesWith

  private def in(file: String) = s"graft/streaming/$file.scala"

  test("DDL control, DDL classification and the batch body each live in one file") {
    assert((filesWith("isDataRow") ++ filesWith("DdlOp")).toSet == Set(in("DdlStream")))
    assert(!filesWith("Changefeed").contains(in("DdlStream")))
    assert(filesWith("compactRouted").toSet == Set(in("Changefeed")))
    assert((filesWith("def ddlAction") ++ filesWith("def physicalId")).toSet ==
      Set(in("OwnerBarrier")))
  }
}
