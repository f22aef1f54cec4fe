package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.MySqlOptions
import graft.streaming.MySqlOptions._

/** pkg/sink/mysql/config.go rule set: clamp/error legs, the
  * max-multi-update-row-size zero asymmetry, txn-mode warn-keep, the
  * timezone consistency check, merge order, and a 400-tuple randomized
  * decision-table replay. */
class MySqlOptionsSpec extends AnyFunSuite {

  private def ok(r: Either[(String, String), Adjusted]): Adjusted =
    r.toOption.getOrElse(fail(s"expected Right, got $r"))
  private val utc = Map("time-zone" -> "UTC")

  test("numeric rules: error at/below zero, clamp above the cap") {
    assert(MySqlOptions("UTC", Map.empty, utc + ("worker-count" -> "0"))
      .left.toOption.get._1 == ErrInvalidConfig)
    assert(ok(MySqlOptions("UTC", Map.empty,
      utc + ("worker-count" -> "2000"))).options.workerCount == 1024)
    assert(MySqlOptions("UTC", Map.empty, utc + ("max-txn-row" -> "-5"))
      .isLeft)
    assert(ok(MySqlOptions("UTC", Map.empty,
      utc + ("max-txn-row" -> "5000"))).options.maxTxnRow == 2048)
    // the asymmetry: size=0 is legal ("never multi-update"), count=0 is not
    assert(MySqlOptions("UTC", Map.empty,
      utc + ("max-multi-update-row" -> "0")).isLeft)
    assert(ok(MySqlOptions("UTC", Map.empty,
      utc + ("max-multi-update-row-size" -> "0")))
      .options.maxMultiUpdateRowSize == 0)
    // unset keeps NewConfig defaults
    val d = ok(MySqlOptions("UTC", Map.empty, utc)).options
    assert(d.workerCount == 16 && d.maxTxnRow == 256 &&
      d.maxMultiUpdateRowCount == 40 && d.maxMultiUpdateRowSize == 1024)
  }

  test("tidb-txn-mode folds case, warns and keeps default on bogus") {
    assert(ok(MySqlOptions("UTC", Map.empty,
      utc + ("tidb-txn-mode" -> "PESSIMISTIC"))).options.tidbTxnMode ==
      "pessimistic")
    val bogus = ok(MySqlOptions("UTC", Map.empty,
      utc + ("tidb-txn-mode" -> "serializable")))
    assert(bogus.options.tidbTxnMode == "optimistic" &&
      bogus.warnings.contains("invalid-tidb-txn-mode"))
    // empty string is skipped silently (len check before the fold)
    assert(ok(MySqlOptions("UTC", Map.empty, utc + ("tidb-txn-mode" -> "")))
      .warnings.forall(_ != "invalid-tidb-txn-mode"))
  }

  test("time-zone: unset adopts server quoted, empty defers, mismatch errors") {
    val unset = ok(MySqlOptions("Asia/Shanghai", Map.empty, Map.empty))
    assert(unset.options.timezone == "\"Asia/Shanghai\"" &&
      unset.warnings.contains("time-zone-not-specified"))
    val empty = ok(MySqlOptions("UTC", Map.empty, Map("time-zone" -> "")))
    assert(empty.options.timezone == "" &&
      empty.warnings.contains("time-zone-empty-use-downstream"))
    assert(ok(MySqlOptions("UTC", Map.empty, Map("time-zone" -> "local")))
      .options.timezone == "\"UTC\"")
    assert(MySqlOptions("UTC", Map.empty,
      Map("time-zone" -> "Asia/Shanghai")).isLeft)
    assert(MySqlOptions("UTC", Map.empty,
      Map("time-zone" -> "Not/AZone")).isLeft)
  }

  test("durations validate with the Go grammar and store the raw string") {
    assert(ok(MySqlOptions("UTC", Map.empty,
      utc + ("read-timeout" -> "1m30s"))).options.readTimeout == "1m30s")
    assert(MySqlOptions("UTC", Map.empty, utc + ("timeout" -> "90"))
      .isLeft) // bare number: no unit, Go rejects
    val d = ok(MySqlOptions("UTC", Map.empty, utc)).options
    assert(d.readTimeout == "2m" && d.writeTimeout == "2m" &&
      d.dialTimeout == "2m")
  }

  test("merge order: file fills, URI overrides; IsSinkSafeMode probe") {
    val m = ok(MySqlOptions("UTC",
      Map("max-txn-row" -> "1000", "safe-mode" -> "true"),
      utc + ("max-txn-row" -> "9")))
    assert(m.options.maxTxnRow == 9 && m.options.safeMode)
    assert(isSinkSafeMode(Map.empty, Some(true)) == Right(true))
    assert(isSinkSafeMode(Map("safe-mode" -> "false"), Some(true)) == Right(false))
    assert(isSinkSafeMode(Map.empty, None) == Right(false))
    assert(isSinkSafeMode(Map("safe-mode" -> "maybe"), Some(true)) ==
      Left(ErrInvalidConfig -> "invalid safe-mode maybe, which is not a boolean"))
  }

  test("scheme gate: mysql-compatible only") {
    assert(fromUri("tidb+ssl://h:4000/?time-zone=UTC", "UTC").isRight)
    assert(fromUri("MySQL://h:3306/", "UTC").isRight) // scheme case-folds
    assert(fromUri("kafka://h:9092/t", "UTC").left.toOption.get._1 ==
      ErrInvalidConfig)
  }

  test("adjust equals a flat decision-table replay (400 random tuples)") {
    val rnd = new scala.util.Random(1305L)
    val caps = Seq(("worker-count", 1024, false), ("max-txn-row", 2048, false),
      ("max-multi-update-row", 256, false),
      ("max-multi-update-row-size", 8192, true))
    for (trial <- 0 until 400) {
      val params = scala.collection.mutable.Map("time-zone" -> "UTC")
      val declared = caps.map { case (k, cap, zeroLegal) =>
        val v = rnd.nextInt(4) match {
          case 0 => -1 + rnd.nextInt(2) // -1 or 0
          case 1 => 1 + rnd.nextInt(cap - 1)
          case 2 => cap + rnd.nextInt(cap)
          case _ => Int.MinValue // unset
        }
        if (v != Int.MinValue) params(k) = v.toString
        (k, cap, zeroLegal, v)
      }
      val mode = rnd.nextInt(3) match {
        case 0 => params("tidb-txn-mode") = "Pessimistic"; "pessimistic"
        case 1 => params("tidb-txn-mode") = "bogus"; "optimistic"
        case _ => "optimistic"
      }
      // independent straight-line replay of the getter chain
      val firstErr = declared.collectFirst {
        case (_, _, zeroLegal, v)
          if v != Int.MinValue && (v < 0 || (v == 0 && !zeroLegal)) => true }
      val expected: Either[Unit, Map[String, Int]] =
        if (firstErr.isDefined) Left(())
        else Right(declared.map { case (k, cap, _, v) =>
          k -> (if (v == Int.MinValue)
                  Map("worker-count" -> 16, "max-txn-row" -> 256,
                    "max-multi-update-row" -> 40,
                    "max-multi-update-row-size" -> 1024)(k)
                else math.min(v, cap))
        }.toMap)
      (MySqlOptions("UTC", Map.empty, params.toMap), expected) match {
        case (Left((e, _)), Left(())) =>
          assert(e == ErrInvalidConfig, s"trial $trial")
        case (Right(a), Right(exp)) =>
          assert(a.options.workerCount == exp("worker-count"), s"trial $trial")
          assert(a.options.maxTxnRow == exp("max-txn-row"), s"trial $trial")
          assert(a.options.maxMultiUpdateRowCount ==
            exp("max-multi-update-row"), s"trial $trial")
          assert(a.options.maxMultiUpdateRowSize ==
            exp("max-multi-update-row-size"), s"trial $trial")
          assert(a.options.tidbTxnMode == mode, s"trial $trial")
          val wantWarns = declared.collect {
            case (k, cap, _, v) if v != Int.MinValue && v > cap => s"$k-capped"
          }.toSet ++ (if (params.get("tidb-txn-mode").contains("bogus"))
                        Set("invalid-tidb-txn-mode") else Set.empty)
          assert(a.warnings.toSet == wantWarns, s"trial $trial $params")
        case (got, exp) => fail(s"trial $trial: got $got, expected $exp")
      }
    }
  }
}
