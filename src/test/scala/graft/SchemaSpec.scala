package graft

import org.apache.spark.sql.types._
import graft.core.SchemaRegistry
import graft.core.SchemaRegistry._

/** DDL application, optimistic schema-lattice join and as-of schema
  * binding (G1/G3/J2). */
class SchemaSpec extends SparkSpec {

  private val base = new StructType().add("pk", LongType).add("v", DoubleType)

  test("applyDdl add/drop/rename") {
    val s1 = applyDdl(base, AddColumn("c", StringType))
    assert(s1.fieldNames.toSeq == Seq("pk", "v", "c"))
    val s2 = applyDdl(s1, RenameColumn("c", "d"))
    assert(s2.fieldNames.toSeq == Seq("pk", "v", "d"))
    val s3 = applyDdl(s2, DropColumn("d"))
    assert(s3 == base)
  }

  test("optimistic join: union with nullable-where-missing") {
    val shard1 = base.add("extra", StringType, nullable = false)
    val shard2 = base
    val Right(joined) = joinSchemas(Seq(shard1, shard2)): @unchecked
    assert(joined.fieldNames.toSeq == Seq("pk", "v", "extra"))
    // shard2 lacks `extra` → nullable in the joined schema
    assert(joined("extra").nullable)
    assert(!joined("pk").nullable == !base("pk").nullable)
  }

  test("optimistic join: type divergence is a conflict") {
    val shard1 = base.add("c", StringType)
    val shard2 = base.add("c", LongType)
    val Left(conflict) = joinSchemas(Seq(shard1, shard2)): @unchecked
    assert(conflict.field == "c")
    assert(conflict.types.toSet == Set(StringType, LongType))
  }

  test("bindSchemaVersion: as-of lookup at the boundary timestamps") {
    import spark.implicits._
    val vs = Seq(
      TableVersion("db", "t", 1, 0L, base),
      TableVersion("db", "t", 2, 100L, base),
      TableVersion("db", "t", 3, 200L, base),
      // a multi-change ALTER splits into two versions at one ts
      TableVersion("db", "s", 1, 0L, base),
      TableVersion("db", "s", 2, 10L, base),
      TableVersion("db", "s", 3, 10L, base))
    val events = Seq[(Option[String], String, Option[Long])](
      (Some("db"), "t", Some(-1L)),            // before the first version
      (Some("db"), "t", Some(0L)),
      (Some("db"), "t", Some(99L)),
      (Some("db"), "t", Some(100L)),           // at effectiveFrom → new version
      (Some("db"), "t", Some(200L)),
      (Some("db"), "t", Some(Long.MaxValue)),  // last version stays open
      (Some("db"), "t", None),                 // NULL ts
      (Some("db"), "x", Some(150L)),           // unknown table
      (None, "t", Some(150L)),                 // NULL schema
      (Some("db"), "s", Some(10L)))
      .zipWithIndex.map { case ((s, t, ts), i) => (i, s, t, ts) }
      .toDF("i", "schema_name", "table_name", "commit_ts")
    def bind(versions: Seq[TableVersion]) = {
      val b = SchemaRegistry.bindSchemaVersion(events, versions)
      assert(b.schema("schema_version").dataType === IntegerType)
      b.orderBy("i").select("schema_version").collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getInt(0))).toSeq
    }
    assert(bind(vs) === Seq(None, Some(1), Some(1), Some(2), Some(3), Some(3),
      None, None, None, Some(3)))
    assert(bind(Nil) === Seq.fill(10)(None))
  }
}
