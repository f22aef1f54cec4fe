package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.core.Hashing

/** The md5→60-bit kernel behind [[Hashing.portableLong]] against the
  * literal column chain it replaces, which stays written out here as the
  * independent reference. */
class HashingSpec extends SparkSpec {
  import spark.implicits._

  private def chain(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  private val edge: Seq[String] = Seq("", "a", "é|ü", "x" * 1000) ++
    Seq(55, 56, 64).map(n => "m" * n) ++ (0 until 64).map(i => s"k$i")

  // repartition keeps the projection out of ConvertToLocalRelation, so
  // the kernel runs in the executor plan, not folded on the driver
  private def strings: DataFrame =
    (edge.map(Option(_)) :+ None).toDF("s").repartition(2)

  private def mismatches(df: DataFrame, c: Column): Array[String] =
    df.select(c.as("x"), Hashing.portableLong(c).as("k"), chain(c).as("l"))
      .filter(!(col("k") <=> col("l")))
      .collect().map(_.toString)

  test("portableLong equals the md5/substring/conv chain, NULL included") {
    assert(mismatches(strings, col("s")).isEmpty)
    val got = strings.filter(col("s").isNull)
      .select(Hashing.portableLong(col("s"))).head()
    assert(got.isNullAt(0))
  }

  test("portableLong equals the chain on long and decimal inputs") {
    val nums = Seq((0L, "0.00"), (42L, "-17.25"), (-42L, "123456789012345678.90"),
        (Long.MinValue, "-0.01"), (Long.MaxValue, "99.99"))
      .toDF("n", "d").withColumn("d", col("d").cast("decimal(20,2)"))
      .repartition(2)
    assert(mismatches(nums, col("n")).isEmpty)
    assert(mismatches(nums, col("d")).isEmpty)
  }

  test("values with the top nibble set stay positive below 2^60") {
    val vs = strings.filter(col("s").isNotNull)
      .select(Hashing.portableLong(col("s"))).as[Long].collect()
    assert(vs.exists(_ >= (1L << 59)))
    assert(vs.forall(v => v >= 0L && v < (1L << 60)))
  }

  test("portableLong inside a transform lambda equals the chain") {
    val arrs = Seq(Seq("a", "é|ü", ""), Seq.empty[String], edge).toDF("a")
      .repartition(2)
    val bad = arrs.select(
        transform(col("a"), s => Hashing.portableLong(s)).as("k"),
        transform(col("a"), s => chain(s)).as("l"))
      .filter(col("k") =!= col("l"))
    assert(bad.count() === 0)
  }

  test("codegen off computes the same values as codegen on") {
    def run() = strings.select(col("s"), Hashing.portableLong(col("s")))
      .collect().map(r => (Option(r.getString(0)), r.get(1))).toMap
    val on = run()
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      assert(mismatches(strings, col("s")).isEmpty)
      assert(run() === on)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("driver-side md5Long equals the column value") {
    val col0 = strings.filter(col("s").isNotNull)
      .select(col("s"), Hashing.portableLong(col("s")))
      .as[(String, Long)].collect().toMap
    assert(col0.size === edge.distinct.size)
    col0.foreach { case (s, v) =>
      assert(Hashing.md5Long(s.getBytes(UTF_8)) === v, s)
      assert(Hashing.md5Long(UTF8String.fromString(s)) === v, s)
    }
  }
}
