package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.diff.{PrivilegeCheck => PC}
import RefSource.{braceChunks, goStrings, unGo}

/** The DM privilege checker against the reference: privilege_test.go's
  * 60+ vectors parsed from the Go test source and replayed through
  * [[graft.diff.PrivilegeCheck]] with their exact error renders, and the
  * required-privilege sets and strings the q308 oracle shares with the
  * kernel, parsed from privilege.go. */
class PrivilegeCheckSpec extends AnyFunSuite {

  private lazy val privSrc = RefSource.source("dm/pkg/checker/privilege.go")
  private lazy val testSrc =
    RefSource.source("dm/pkg/checker/privilege_test.go")

  // ------------------------------------------------ Go test-literal parser

  private final case class GoCase(grants: Seq[String],
                                  checkTables: Seq[(String, String)],
                                  wholeInstance: Boolean,
                                  success: Boolean, errStr: String)

  /** The `cases := []struct{...}{ ... }` vector table of one test
    * function of privilege_test.go, as replayable cases. */
  private def parseCases(fnName: String): Seq[GoCase] =
    RefSource.parseCases(testSrc, fnName).map { chunk =>
      val grants =
        if ("""grants:\s+nil""".r.findFirstIn(chunk).isDefined) Nil
        else {
          val at = chunk.indexOf("[]string{")
          if (at < 0) Nil
          else goStrings(braceChunks(chunk.substring(at)).head)
        }
      val tables = {
        val at = chunk.indexOf("filter.Table{")
        if (at < 0) Nil
        else """\{Schema: "([^"]+)", Name: "([^"]+)"\}""".r
          .findAllMatchIn(chunk.substring(at))
          .map(m => (m.group(1), m.group(2))).toSeq
      }
      val whole = chunk.contains("dumpWholeInstance: true")
      val state = """(?:dumpState|replicationState|checkState):\s+State(\w+)""".r
        .findFirstMatchIn(chunk).map(_.group(1))
      assert(state.isDefined, s"no state in case chunk of $fnName")
      val err = """errStr:\s+"((?:[^"\\]|\\.)*)"""".r
        .findFirstMatchIn(chunk).map(m => unGo(m.group(1))).getOrElse("")
      GoCase(grants, tables, whole, state.get == "Success", err)
    }

  private def replay(fnName: String, required: GoCase => PC.Lack): Unit = {
    val cases = parseCases(fnName)
    assert(cases.size >= 5, s"$fnName parsed only ${cases.size} cases")
    for ((cs, i) <- cases.zipWithIndex) {
      val got = PC.verifyWithResult(cs.grants, required(cs))
      if (cs.success)
        assert(got.isEmpty, s"$fnName case $i (${cs.grants}): got $got")
      else {
        assert(got.isDefined, s"$fnName case $i (${cs.grants}): expected " +
          s"'${cs.errStr}', got success")
        assert(got.get == cs.errStr,
          s"$fnName case $i: got '${got.get}' want '${cs.errStr}'")
      }
    }
  }

  // ------------------------------------------------------- vector replays

  test("TestVerifyDumpPrivileges vectors, replayed from source") {
    // the test's own required set: table-level SELECT + global RELOAD,
    // whole-instance flips SELECT to global (privilege_test.go:304-313)
    replay("TestVerifyDumpPrivileges", cs => {
      val base: PC.Lack = Map(
        PC.Select -> (if (cs.wholeInstance) PC.Priv(needGlobal = true)
                      else PC.Priv(dbs = PC.tableLevelPrivs(cs.checkTables))),
        PC.Reload -> PC.Priv(needGlobal = true))
      base
    })
    assert(parseCases("TestVerifyDumpPrivileges").size >= 25)
  }

  test("TestVerifyReplicationPrivileges vectors, replayed from source") {
    replay("TestVerifyReplicationPrivileges",
      _ => PC.ReplicationRequiredPrivs)
    assert(parseCases("TestVerifyReplicationPrivileges").size >= 15)
  }

  test("TestVerifyPrivilegesWildcard vectors, replayed from source") {
    replay("TestVerifyPrivilegesWildcard", cs =>
      Map(PC.Select -> PC.Priv(dbs = PC.tableLevelPrivs(cs.checkTables))))
    assert(parseCases("TestVerifyPrivilegesWildcard").size == 5)
  }

  test("TestVerifyTargetPrivilege vectors, required set parsed from test") {
    // the TEST replays with seven privileges (no Index) — parse its own
    // map literal rather than the checker's (privilege_test.go:690-698)
    val fnStart = testSrc.indexOf("func TestVerifyTargetPrivilege")
    val body = testSrc.substring(fnStart)
    val mapAt = body.indexOf("replRequiredPrivs := map")
    val names = """mysql\.(\w+)Priv:""".r
      .findAllMatchIn(body.substring(mapAt,
        body.indexOf("verifyPrivilegesWithResult", mapAt)))
      .map(_.group(1)).toSet
    val required = names.map(n => goPriv(n) -> PC.Priv(needGlobal = true)).toMap
    assert(names.size == 7 && !names.contains("Index"))
    replay("TestVerifyTargetPrivilege", _ => required)
  }

  private val goPriv: Map[String, PC.PrivT] = Map(
    "Create" -> PC.Create, "Select" -> PC.Select, "Insert" -> PC.Insert,
    "Update" -> PC.Update, "Delete" -> PC.Delete, "Alter" -> PC.Alter,
    "Drop" -> PC.Drop, "Index" -> PC.Index, "Reload" -> PC.Reload,
    "LockTables" -> PC.LockTables,
    "ReplicationSlave" -> PC.ReplicationSlave,
    "ReplicationClient" -> PC.ReplicationClient, "Super" -> PC.Super,
    "Grant" -> PC.Grant)

  // ------------------------------------- kernel constants vs privilege.go

  test("checker required-privilege sets, parsed from privilege.go") {
    // dump (privilege.go:95-111): SELECT always; the consistency switch
    // maps auto/flush → RELOAD and lock → LOCK TABLES
    val checkBody = privSrc.substring(
      privSrc.indexOf("func (pc *SourceDumpPrivilegeChecker) Check"),
      privSrc.indexOf("func (pc *SourceDumpPrivilegeChecker) Name"))
    assert(checkBody.contains(
      "dumpRequiredPrivs[mysql.SelectPriv] = priv{needGlobal: true}"))
    val armRe = """case ("[^:]+"):\s*\n\s*dumpRequiredPrivs\[mysql\.(\w+)Priv\]""".r
    val arms = armRe.findAllMatchIn(checkBody).map(m =>
      m.group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
        .toSeq -> m.group(2)).toSeq
    assert(arms.nonEmpty, "consistency switch arms not parsed")
    for ((tokens, privName) <- arms; tok <- tokens) {
      val req = PC.dumpRequiredPrivs(Nil, tok, dumpWholeInstance = false)
      assert(req.get(goPriv(privName)).exists(_.needGlobal),
        s"consistency $tok must require $privName global")
    }
    // a consistency outside the switch adds nothing beyond SELECT
    assert(PC.dumpRequiredPrivs(Nil, "none", dumpWholeInstance = false)
      .keySet == Set(PC.Select))
    assert(PC.dumpRequiredPrivs(Nil, "auto", dumpWholeInstance = true)
      (PC.Select).needGlobal)
    assert(PC.dumpRequiredPrivs(Seq("db1" -> "tb1"), "auto",
      dumpWholeInstance = false)(PC.Select).dbs ==
      Map("db1" -> PC.DbPriv(tables =
        Map("tb1" -> PC.TablePriv(wholeTable = true)))))

    // replication (privilege.go:157-160) and target (:201-210) literals
    def mapPrivs(anchor: String): Set[String] = {
      val at = privSrc.indexOf(anchor)
      assert(at >= 0, s"$anchor not found")
      val end = privSrc.indexOf("verifyPrivilegesWithResult", at)
      """mysql\.(\w+)Priv:""".r
        .findAllMatchIn(privSrc.substring(at, end)).map(_.group(1)).toSet
    }
    val repl = mapPrivs(
      "func (pc *SourceReplicatePrivilegeChecker) Check")
    assert(repl.map(goPriv) == PC.ReplicationRequiredPrivs.keySet)
    val target = mapPrivs("func (t *TargetPrivilegeChecker) Check")
    assert(target.size == 8 && target.map(goPriv) ==
      PC.TargetRequiredPrivs.keySet)
  }

  test("checker names, instructions and render fragments, parsed") {
    def literalAfter(anchor: String): String = {
      val at = privSrc.indexOf(anchor)
      assert(at >= 0, s"$anchor not found")
      goStrings(privSrc.substring(at,
        math.min(privSrc.length, at + anchor.length + 120))).head
    }
    assert(PC.dumpPrivilegeCheck(Seq("GRANT SELECT ON *.* TO 'u'@'%'"),
      Nil, "none").name ==
      literalAfter("""func (pc *SourceDumpPrivilegeChecker) Name() string {
	return"""))
    // instruction strings: dump overrides, replication sets its own,
    // target keeps verifyPrivilegesWithResult's
    val dumpFail = PC.dumpPrivilegeCheck(Seq("GRANT USAGE ON *.* TO 'u'"),
      Seq("d" -> "t"))
    assert(dumpFail.state == PC.StateFailure)
    assert(privSrc.contains(
      s"""result.Instruction = "${dumpFail.instruction}""""))
    val replFail = PC.replicationPrivilegeCheck(
      Seq("GRANT USAGE ON *.* TO 'u'"))
    assert(privSrc.contains(
      s"""result.Instruction = "${replFail.instruction}""""))
    val targetFail = PC.targetPrivilegeCheck(
      Seq("GRANT USAGE ON *.* TO 'u'"))
    assert(targetFail.state == PC.StateWarning)
    assert(privSrc.contains(
      s"""result.Instruction = "${targetFail.instruction}""""))
    // the target checker's ERROR path (vs lacked) carries NO
    // instruction — verifyPrivilegesWithResult only sets it in the
    // lacked branch and TargetPrivilegeChecker never sets its own
    assert(PC.targetPrivilegeCheck(Nil).instruction == "")
    assert(PC.targetPrivilegeCheck(
      Seq("invalid SQL statement")).instruction == "")
    // LackedPrivilegesAsStr fragments (privilege.go:248-254)
    for (frag <- Seq("\"lack of \"", "\" global (*.*)\"", "\" privilege\""))
      assert(privSrc.contains(s"b.WriteString($frag)"), frag)
    // the no-grants sentinel (privilege.go:296)
    val sentinel = goStrings(privSrc.substring(
      privSrc.indexOf("if len(grants) == 0"))).head
    assert(PC.verifyWithResult(Nil, PC.ReplicationRequiredPrivs)
      .contains(sentinel))
  }
}
