package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{DmTaskConfig => TC}
import graft.streaming.{SubTaskValidate => STV}

/** The DM task-config constants the q299-q302 oracles share (terror
  * identifiers, enum tokens, defaults, the checking-item vocabulary),
  * parsed from the reference source, and the reference's own task_test.go
  * fixtures replayed: the foreign-key decision table, TestLoadConfigAdjust's
  * defaults and the TestUnusedTaskConfig YAML pair. */
class DmTaskConfigSpec extends AnyFunSuite {

  private lazy val taskSrc = RefSource.source("dm/config/task.go")
  private lazy val subtaskSrc = RefSource.source("dm/config/subtask.go")
  private lazy val checkingSrc = RefSource.source("dm/config/checking_item.go")
  private lazy val testSrc = RefSource.source("dm/config/task_test.go")
  private val SourceFile = "dm/config/source_config.go"

  test("every kernel terror token is a declared error_list.go identifier") {
    val declared = """(Err\w+)\s+=\s+New\(""".r
      .findAllMatchIn(RefSource.source("dm/pkg/terror/error_list.go"))
      .map(_.group(1)).toSet
    val used = Seq(
      TC.ErrNeedUniqueTaskName, TC.ErrInvalidTaskMode,
      TC.ErrShardModeNotSupport, TC.ErrStrictOptimistic,
      TC.ErrColumnMappingDeprecated, TC.ErrCollationNotSupport,
      TC.ErrOnlineSchemeNotSupport, TC.ErrNeedTargetDB,
      TC.ErrInstsAtLeastOne, TC.ErrExprFilterEmptyName,
      TC.ErrExprFilterManyExpr, TC.ErrEmptySourceID, TC.ErrSameSourceID,
      TC.ErrMetaInvalid, TC.ErrMydumperCfgConflict, TC.ErrLoaderCfgConflict,
      TC.ErrSyncerCfgConflict, TC.ErrRouteRuleNotFound,
      TC.ErrFilterRuleNotFound, TC.ErrBAListNotFound,
      TC.ErrMydumperCfgNotFound, TC.ErrLoaderCfgNotFound,
      TC.ErrSyncerCfgNotFound, TC.ErrValidatorCfgNotFound,
      TC.ErrExprFilterNotFound, TC.ErrMydumperPathNotValid,
      TC.ErrImportIntoSharding, TC.ErrInvalidSafeModeDuration,
      TC.ErrConflictSafeModeDuration, TC.ErrDuplicateCfgItem,
      TC.ErrGlobalConfigsUnused, TC.ErrInvalidTimezone,
      TC.ErrInvalidLoadMode, TC.ErrInvalidDupResolution,
      TC.ErrInvalidPhysicalDupResolution, TC.ErrInvalidPhysicalChecksum,
      TC.ErrInvalidLoadAnalyze, TC.ErrValidationMode,
      TC.ErrCheckItemNotSupport, TC.ErrUnsupportedFkOption,
      STV.ErrTaskNameEmpty, STV.ErrTooLongSourceID,
      STV.ErrImportIntoSharedStorage, STV.ErrOnlineDDLInvalidRegex,
      STV.ErrLoaderS3NotSupport, STV.ErrLoaderDirInvalid,
      STV.ErrInvalidChunkFileSize, STV.ErrWorkerNeedSourceID,
      STV.ErrWorkerTooLongSourceID, STV.ErrWorkerRelayBinlogName,
      STV.ErrCheckerMaxTooSmall, STV.ErrNotSupportedFlavor,
      graft.streaming.TaskConverters.ErrSourceIDNotFound,
      graft.streaming.TaskConverters.ErrOpenAPICommonError)
    assert(used.distinct.size == used.size, "duplicate kernel tokens")
    used.foreach(t => assert(declared.contains(t), s"$t not declared"))
    // ErrRamBytesInvalid is deliberately NOT a terror: ValidatorConfig
    // .Adjust returns units.RAMInBytes' raw error (task.go:515-518)
    assert(!declared.contains(TC.ErrRamBytesInvalid))
    assert(taskSrc.contains("units.RAMInBytes(v.MaxPendingRowSize)"))
  }

  test("enum token sets match task.go / subtask.go, parsed") {
    val loadModes = """LoadMode\w+\s+LoadMode = "([\w-]+)"""".r
      .findAllMatchIn(taskSrc).map(_.group(1)).toSet
    assert(loadModes == TC.LoadModes)
    val dupLogical =
      """OnDuplicate\w+\s+LogicalDuplicateResolveType = "(\w+)"""".r
        .findAllMatchIn(taskSrc).map(_.group(1)).toSet
    assert(dupLogical == TC.LogicalDupResolves)
    val dupPhysical =
      """OnDuplicate\w+\s+PhysicalDuplicateResolveType = "(\w+)"""".r
        .findAllMatchIn(taskSrc).map(_.group(1)).toSet
    assert(dupPhysical == TC.PhysicalDupResolves)
    val opLevels = """OpLevel\w+\s+= "(\w+)"""".r
      .findAllMatchIn(taskSrc).map(_.group(1)).toSet
    assert(opLevels == TC.PostOpLevels)
    val validationModes = """Validation\w+\s+= "(\w+)"""".r
      .findAllMatchIn(taskSrc).map(_.group(1)).toSet
    assert(validationModes == Set(
      graft.streaming.ValidatorLifecycle.ModeNone,
      graft.streaming.ValidatorLifecycle.ModeFast,
      graft.streaming.ValidatorLifecycle.ModeFull))
    val taskModes = """Mode\w+\s+= "([\w&]+)"""".r
      .findAllMatchIn(subtaskSrc).map(_.group(1)).toSet
    assert(taskModes == TC.TaskModes)
    val shardModes = """Shard\w+\s+= "(\w+)"""".r
      .findAllMatchIn(taskSrc).map(_.group(1)).toSet
    assert(shardModes == Set("pessimistic", "optimistic"))
    val onlineSchemes = """(?m)^\t(?:GHOST|PT)\s+= "([\w-]+)"""".r
      .findAllMatchIn(taskSrc).map(_.group(1)).toSet
    assert(onlineSchemes == Set("gh-ost", "pt"))
  }

  test("default values match task.go / checker_config.go, parsed") {
    def grab(re: String, src: String = taskSrc): String = {
      val m = re.r.findFirstMatchIn(src)
      assert(m.isDefined, s"pattern not found: $re"); m.get.group(1)
    }
    assert(TC.DefaultMetaSchema == grab("""defaultMetaSchema\s+= "(\w+)""""))
    assert(TC.DefaultPoolSize == grab("""defaultPoolSize = (\d+)""").toInt)
    assert(TC.DefaultQueueSize == grab("""defaultQueueSize\s+= (\d+)""").toInt)
    assert(TC.DefaultCheckpointFlushInterval ==
      grab("""defaultCheckpointFlushInterval = (\d+)""").toInt)
    assert(TC.DefaultValidatorWorkerCount ==
      grab("""DefaultValidatorWorkerCount\s+= (\d+)""").toInt)
    assert(TC.DefaultValidatorValidateIntervalSec ==
      grab("""DefaultValidatorValidateInterval\s+= (\d+) \* time\.Second""").toLong)
    assert(TC.DefaultValidatorCheckIntervalSec ==
      grab("""DefaultValidatorCheckInterval\s+= (\d+) \* time\.Second""").toLong)
    assert(TC.DefaultValidatorRowErrorDelaySec ==
      grab("""DefaultValidatorRowErrorDelay\s+= (\d+) \* time\.Minute""").toLong * 60)
    assert(TC.DefaultValidatorMetaFlushIntervalSec ==
      grab("""DefaultValidatorMetaFlushInterval\s+= (\d+) \* time\.Minute""").toLong * 60)
    assert(TC.DefaultValidatorBatchQuerySize ==
      grab("""DefaultValidatorBatchQuerySize\s+= (\d+)""").toInt)
    assert(TC.DefaultValidatorMaxPendingRowSize ==
      grab("""DefaultValidatorMaxPendingRowSize = "(\w+)""""))
    // MaxInt32 placeholder (task.go:81-83)
    assert(taskSrc.contains("DefaultValidatorMaxPendingRow = math.MaxInt32"))
    assert(TC.DefaultValidatorMaxPendingRow == Int.MaxValue)
    // subtask defaults
    assert(STV.MaxSourceIDLength ==
      grab("""const MaxSourceIDLength = (\d+)""", checkingSrc).toInt)
    def rawConst(name: String, src: String): String = {
      val line = src.linesIterator
        .find(l => l.trim.startsWith(name) && l.contains("= \""))
      assert(line.isDefined, s"$name not found")
      val l = line.get; l.substring(l.indexOf('"') + 1, l.lastIndexOf('"'))
    }
    assert(STV.DefaultShadowTableRules ==
      rawConst("DefaultShadowTableRules", subtaskSrc))
    assert(STV.DefaultTrashTableRules ==
      rawConst("DefaultTrashTableRules", subtaskSrc))
    assert(STV.DefaultRelayDir ==
      grab("""defaultRelayDir\s+= "([\w-]+)"""", RefSource.source(SourceFile)))
    // checker defaults (checker_config.go:23-28 + Adjust :72-78)
    val checkerSrc = RefSource.source("dm/config/checker_config.go")
    val adjusted = STV.adjustChecker(STV.CheckerCfg())
    assert(adjusted.checkIntervalSec ==
      grab("""DefaultCheckInterval\s+= (\d+) \* time\.Second""", checkerSrc).toLong)
    assert(adjusted.backoffMinSec ==
      grab("""DefaultBackoffMin\s+= (\d+) \* time\.Second""", checkerSrc).toLong)
    assert(adjusted.backoffJitter ==
      grab("""DefaultBackoffJitter\s+= (true|false)""", checkerSrc).toBoolean)
    assert(adjusted.backoffFactor ==
      grab("""DefaultBackoffFactor\s+float64 = (\d+)""", checkerSrc).toDouble)
  }

  test("checking-item vocabulary matches checking_item.go, parsed") {
    // every `X = "token"` in the definition const block (:23-54)
    val constBlock = checkingSrc.substring(
      checkingSrc.indexOf("const ("),
      checkingSrc.indexOf("// AllCheckingItems contains"))
    val tokens = """= "(\w+)"""".r
      .findAllMatchIn(constBlock).map(_.group(1)).toSet
    assert(tokens == TC.AllCheckingItems ++ TC.AdditionalCheckingItems)
    // primary_key is NOT in AllCheckingItems (additional-only, :92-98)
    val allMapBlock = checkingSrc.substring(
      checkingSrc.indexOf("var AllCheckingItems"),
      checkingSrc.indexOf("// LightningPrechecks"))
    val allMapKeys = """\t(\w+Checking|AllChecking):""".r
      .findAllMatchIn(allMapBlock).map(_.group(1)).toSet
    assert(!allMapKeys.contains("PrimaryKeyChecking"))
    assert(TC.validateCheckingItem("primary_key").isRight)
    assert(TC.validateCheckingItem("nope").isLeft)
  }

  test("TestIsForeignKeyChecksEnabled decision table, replayed from source") {
    val tableRe =
      ("""\{name: "([^"]+)", session: (nil|map\[string\]string\{[^}]*\}), """ +
        """expected: (true|false)\}""").r
    val cases = tableRe.findAllMatchIn(testSrc).map { m =>
      val session =
        if (m.group(2) == "nil") Map.empty[String, String]
        else """"([^"]+)": "([^"]*)"""".r.findAllMatchIn(m.group(2))
          .map(p => p.group(1) -> p.group(2)).toMap
      (m.group(1), session, m.group(3).toBoolean)
    }.toSeq
    assert(cases.size == 7, s"expected 7 reference cases, got ${cases.size}")
    for ((name, session, expected) <- cases)
      assert(TC.isForeignKeyChecksEnabled(session) == expected, name)
  }

  test("TestLoadConfigAdjust defaults, replayed from source") {
    // the expected struct literal in task_test.go:1192-1203
    val block = testSrc.substring(testSrc.indexOf("func TestLoadConfigAdjust"))
    def field(n: String): String = {
      val m = (n + """:\s+(?:"([\w-]*)"|(\d+))""").r.findFirstMatchIn(block)
      assert(m.isDefined, s"$n not in expected literal")
      Option(m.get.group(1)).getOrElse(m.get.group(2))
    }
    val adjusted = TC.adjustLoader(TC.LoaderCfg()).toOption.get
    assert(adjusted.poolSize == field("PoolSize").toInt)
    assert(adjusted.importMode == field("ImportMode"))
    assert(adjusted.onDuplicateLogical == field("OnDuplicateLogical"))
    assert(adjusted.onDuplicatePhysical == field("OnDuplicatePhysical"))
    assert(adjusted.checksumPhysical == field("ChecksumPhysical"))
    assert(adjusted.analyze == field("Analyze"))
    // the wrong-value leg the test pins
    assert(TC.adjustLoader(TC.LoaderCfg(onDuplicatePhysical = "wrong")) ==
      Left(TC.ErrInvalidPhysicalDupResolution -> "wrong"))
  }

  /** Parse the task_test.go YAML fixtures (correctTaskConfig /
    * errorTaskConfig) into the kernel's TaskConfig model: top-level
    * scalars, the global section NAME SETS, the expression-filter
    * bodies, and the per-instance reference lists. */
  private def parseFixture(yaml: String): TC.TaskConfig = {
    def scalar(k: String): String =
      ("(?m)^" + k + """:\s*"?([\w&-]+)"?""").r
        .findFirstMatchIn(yaml).map(_.group(1)).getOrElse("")
    def sectionNames(k: String): Set[String] = {
      val start = yaml.indexOf(s"\n$k:\n")
      if (start < 0) return Set.empty
      val rest = yaml.substring(start + k.length + 3)
      val end = """(?m)^[^\s]""".r.findFirstMatchIn(rest)
        .map(_.start).getOrElse(rest.length)
      """(?m)^  ([\w-]+):""".r.findAllMatchIn(rest.substring(0, end))
        .map(_.group(1)).toSet
    }
    def exprFilters: Map[String, TC.ExprFilterCfg] =
      sectionNames("expression-filter").map { n =>
        val body = yaml.substring(yaml.indexOf(s"  $n:"))
        def sub(k: String): String =
          ("""    """ + k + """:\s*"([^"]*)"""").r
            .findFirstMatchIn(body).map(_.group(1)).getOrElse("")
        n -> TC.ExprFilterCfg(sub("schema"), sub("table"),
          insertExpr = sub("insert-value-expr"))
      }.toMap
    val instBlocks = yaml.split("""(?m)^  - source-id: """).drop(1)
    val instances = instBlocks.map { b =>
      def ref(k: String): String =
        (k + """:\s*"([\w-]+)"""").r.findFirstMatchIn(b)
          .map(_.group(1)).getOrElse("")
      def list(k: String): Seq[String] =
        (k + """:\s*\[([^\]]*)\]""").r.findFirstMatchIn(b)
          .map(_.group(1).split(",").map(_.trim.stripPrefix("\"")
            .stripSuffix("\"")).toSeq.filter(_.nonEmpty))
          .getOrElse(Nil)
      TC.Instance(
        sourceId = b.takeWhile(_ != '\n').trim.stripPrefix("\"").stripSuffix("\""),
        routeRules = list("route-rules"), filterRules = list("filter-rules"),
        exprFilters = list("expression-filters"),
        mydumperConfigName = ref("mydumper-config-name"),
        loaderConfigName = ref("loader-config-name"),
        syncerConfigName = ref("syncer-config-name"))
    }.toSeq
    TC.TaskConfig(
      name = scalar("name"), taskMode = scalar("task-mode"),
      metaSchema = scalar("meta-schema"), shardMode = scalar("shard-mode"),
      hasTargetDb = yaml.contains("target-database:"),
      routes = sectionNames("routes"), filters = sectionNames("filters"),
      mydumpers = sectionNames("mydumpers"),
      loaders = sectionNames("loaders").map(_ -> TC.LoaderCfg()).toMap,
      syncers = sectionNames("syncers"),
      exprFilter = exprFilters, instances = instances)
  }

  test("TestUnusedTaskConfig YAML fixtures, consumed and replayed") {
    def backtickString(marker: String): String = {
      val at = testSrc.indexOf(marker)
      assert(at >= 0, s"$marker not found")
      val open = testSrc.indexOf('`', at)
      val close = testSrc.indexOf('`', open + 1)
      testSrc.substring(open + 1, close)
    }
    val correct = parseFixture(backtickString("var correctTaskConfig = "))
    assert(correct.name == "test" && correct.taskMode == "all")
    assert(correct.routes == Set("route-rule-1", "route-rule-2"))
    assert(correct.instances.size == 2)
    TC.adjust(correct) match {
      case Right(a) => assert(a.config.shardMode == "pessimistic")
      case Left(e) => fail(s"correctTaskConfig should adjust green: $e")
    }
    // the mutated fixture leaves expr-1/filter-rule-2/route-rule-2 unused;
    // the expected render is parsed from the require.ErrorContains line
    val error = parseFixture(backtickString("errorTaskConfig := "))
    val expected = """following (\[[^\]]+\]) are set""".r
      .findFirstMatchIn(testSrc).map(_.group(1))
    assert(expected.isDefined, "expected unused render not found")
    TC.adjust(error) match {
      case Left((err, msg)) =>
        assert(err == TC.ErrGlobalConfigsUnused)
        assert(msg == expected.get, s"render mismatch: $msg")
      case Right(_) => fail("errorTaskConfig should fail as unused")
    }
  }

  test("start-time pattern and timezone bounds, parsed from time.go") {
    val timeSrc = RefSource.source("dm/pkg/utils/time.go")
    // the reference's own pattern literal drives BOTH engines over a
    // probe set — re-typing the regex wrong would diverge here
    val pat = """startTimePattern = regexp\.MustCompile\(`([^`]+)`\)""".r
      .findFirstMatchIn(timeSrc)
    assert(pat.isDefined, "startTimePattern not found")
    val goRe = java.util.regex.Pattern.compile(pat.get.group(1))
    val probes = Seq(
      "2022-01-01 00:00:00", "2022-01-01T00:00:00",
      "2022-01-01 00:00:00+08:00", "2022-01-01T00:00:00+0800",
      "2022-01-01T00:00:00Z", "2022-01-01 00:00", "2022/01/01 00:00:00",
      "2022-01-01  00:00:00", "22-01-01 00:00:00",
      "2022-01-01 00:00:00+8:00", "2022-01-01 00:00:00 +08:00")
    // every probe carries a VALID datetime value, so format acceptance
    // is the only deciding factor — the two engines must agree exactly
    for (p <- probes)
      assert(goRe.matcher(p).matches() ==
        graft.streaming.DmTaskConfig.parseStartTime(p).isRight, p)
    // offset bounds: -(12h59m) / +(14h) (time.go:53-62)
    assert(timeSrc.contains("12*time.Hour+59*time.Minute"))
    assert(timeSrc.contains("14*time.Hour"))
    import graft.streaming.{DmTaskConfig => TCx}
    assert(TCx.parseTimeZone("-12:59").isRight &&
      TCx.parseTimeZone("-13:00").isLeft)
    assert(TCx.parseTimeZone("+14:00").isRight &&
      TCx.parseTimeZone("+14:01").isLeft)
    // the obfuscated-password constant (source_config.go:59)
    val srcCfg = RefSource.source(SourceFile)
    val ob = """ObfuscatedPasswordForFeedback string = "(\*+)"""".r
      .findFirstMatchIn(srcCfg)
    assert(ob.isDefined, "obfuscated password constant not found")
    assert(graft.streaming.TaskConverters.ObfuscatedPasswordForFeedback ==
      ob.get.group(1))
  }
}
