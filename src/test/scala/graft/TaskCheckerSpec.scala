package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.TaskChecker._
import RefSource.{goDurationMs, goStringSlice}

/** The auto-resume task checker's tables pinned against the reference
  * source: the un-resumable message tables verbatim, the code sets by
  * replaying terror's iota arithmetic over error_list.go, the strategy
  * names and ordering, and the checker defaults. */
class TaskCheckerSpec extends AnyFunSuite {

  private val RetryFile = "dm/pkg/retry/errors.go"

  /** Replay terror's iota arithmetic: within each const block, the first
    * `ErrCode = iota + BASE` anchors, names count up from it. */
  private def terrorCodes(terrorSrc: String): Map[String, Long] = {
    val out = scala.collection.mutable.Map.empty[String, Long]
    for (block <- """(?s)const \((.*?)\n\)""".r
        .findAllMatchIn(terrorSrc).map(_.group(1))) {
      var base = -1L; var idx = 0L
      for (line <- block.split("\n")) {
        val m = """^\tcode(\w+)(?:\s+ErrCode = iota \+ (\d+))?\s*$""".r
          .findFirstMatchIn(line)
        m.foreach { mm =>
          if (mm.group(2) != null) { base = mm.group(2).toLong; idx = 0 }
          if (base >= 0) { out(mm.group(1)) = base + idx; idx += 1 }
        }
      }
    }
    out.toMap
  }

  test("task-checker message tables match dm/pkg/retry/errors.go, parsed") {
    val retrySrc = RefSource.source(RetryFile)
    assert(UnsupportedDdlMsgs == goStringSlice(retrySrc, "UnsupportedDDLMsgs"))
    assert(UnsupportedDmlMsgs == goStringSlice(retrySrc, "UnsupportedDMLMsgs"))
    assert(ReplicationErrMsgs == goStringSlice(retrySrc, "ReplicationErrMsgs"))
    assert(ParseRelayLogErrMsgs ==
      goStringSlice(retrySrc, "ParseRelayLogErrMsgs"))
  }

  test("un-resumable terror codes match error_list.go's iota arithmetic") {
    val codes = terrorCodes(RefSource.source("dm/pkg/terror/error_list.go"))
    val retrySrc = RefSource.source(RetryFile)
    def codesOf(setName: String): Set[Long] = {
      val start = retrySrc.indexOf(s"$setName = map[int32]struct{}{")
      assert(start >= 0, s"$setName not found")
      val body = retrySrc.substring(start, retrySrc.indexOf("}\n", start))
      """terror\.Err(\w+)\.Code""".r.findAllMatchIn(body)
        .map(m => codes(m.group(1))).toSet
    }
    assert(UnresumableErrCodes == codesOf("UnresumableErrCodes"),
      s"got ${codesOf("UnresumableErrCodes")}")
    assert(UnresumableRelayErrCodes == codesOf("UnresumableRelayErrCodes"),
      s"got ${codesOf("UnresumableRelayErrCodes")}")
    assert(ErrParserParseRelayLogCode == codes("ParserParseRelayLog"))
    assert(ErrLoadLightningRuntimeCode == codes("LoadLightningRuntime"))
  }

  test("checker strategy names and defaults match the reference, parsed") {
    val cfgSrc = RefSource.source("dm/config/checker_config.go")
    val tcSrc = RefSource.source("dm/worker/task_checker.go")
    // resumeStrategy2Str (task_checker.go:80-86)
    val nameRe = """Resume(\w+):\s+"([^"]+)"""".r
    val names = nameRe.findAllMatchIn(tcSrc)
      .map(m => m.group(1) -> m.group(2)).toMap
    assert(StrategyNames(ResumeIgnore) == names("Ignore"))
    assert(StrategyNames(ResumeSkip) == names("Skip"))
    assert(StrategyNames(ResumeNoSense) == names("NoSense"))
    assert(StrategyNames(ResumeDispatch) == names("Dispatch"))
    // iota+1 ordering (task_checker.go:64-79)
    val order = """Resume(\w+)(?:\s+ResumeStrategy = iota \+ 1)?\n""".r
      .findAllMatchIn(tcSrc.substring(tcSrc.indexOf("const ("),
        tcSrc.indexOf("resumeStrategy2Str"))).map(_.group(1)).toSeq
    assert(order == Seq("Ignore", "Skip", "NoSense", "Dispatch"),
      s"got $order")
    assert(DefaultCheckIntervalMs ==
      goDurationMs(cfgSrc, "DefaultCheckInterval"))
    assert(DefaultBackoffRollbackMs ==
      goDurationMs(cfgSrc, "DefaultBackoffRollback"))
    assert(DefaultBackoffMinMs == goDurationMs(cfgSrc, "DefaultBackoffMin"))
    assert(DefaultBackoffMaxMs == goDurationMs(cfgSrc, "DefaultBackoffMax"))
  }
}
