package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{DebeziumFields => DF}

/** Debezium field encoding pinned against the reference codec source. */
class DebeziumFieldsSpec extends AnyFunSuite {

  test("Debezium jdbc-type map matches internal/java.go, replayed") {
    val javaSrc = RefSource.source("pkg/sink/codec/internal/java.go")
    // the java.sql.Types ids, parsed from the const block
    val ids = """JavaSQLType(\w+)\s+JavaSQLType = (-?\d+)""".r
      .findAllMatchIn(javaSrc).map(m => m.group(1) -> m.group(2).toInt).toMap
    // MySQLType2JdbcType's case arms (the function body AFTER the Canal
    // MySQLType2JavaType map, which ends where this one begins)
    val fn = javaSrc.substring(javaSrc.indexOf("func MySQLType2JdbcType"))
    val arm = """case ([^:\n]+):\s*\n\s*(?:if isBinary \{\s*\n\s*return JavaSQLType(\w+)\s*\n\s*\}\s*\n\s*)?return JavaSQLType(\w+)""".r
    val parsed = arm.findAllMatchIn(fn).flatMap { m =>
      val types = m.group(1).split(",").map(_.trim.stripPrefix("mysql.Type"))
      val binaryName = Option(m.group(2))
      val plainName = m.group(3)
      types.flatMap { t =>
        Seq((t, false, ids(plainName))) ++
          binaryName.map(b => (t, true, ids(b)))
      }
    }.toSeq
    assert(parsed.nonEmpty, "no case arms parsed")
    val goToKernel = Map("Tiny" -> "tiny", "Short" -> "short",
      "Long" -> "long", "Int24" -> "int24", "Year" -> "year",
      "Float" -> "float", "Double" -> "double", "NewDecimal" -> "newdecimal",
      "Timestamp" -> "timestamp", "Datetime" -> "datetime",
      "Longlong" -> "longlong", "Date" -> "date", "NewDate" -> "date",
      "Duration" -> "time", "Enum" -> "enum", "Set" -> "set",
      "TinyBlob" -> "blob", "MediumBlob" -> "blob", "LongBlob" -> "blob",
      "Blob" -> "blob", "VarString" -> "varchar", "Varchar" -> "varchar",
      "String" -> "string", "Bit" -> "bit", "TiDBVectorFloat32" -> "vector")
    var checked = 0
    for ((goType, binary, expected) <- parsed;
         kernelType <- goToKernel.get(goType)) {
      // binary-sensitive arms: the non-binary reading for string types
      // comes from the same arm's fallthrough return
      assert(DF.jdbcType(kernelType, binary) == expected,
        s"$goType binary=$binary: kernel ${DF.jdbcType(kernelType, binary)}" +
          s" vs reference $expected")
      checked += 1
    }
    assert(checked >= 20, s"only $checked arms checked")
    // json pins to OTHER; types with no case arm (vector) take the
    // default-tail VARCHAR
    assert(DF.jdbcType("json", binary = false) == ids("OTHER"))
    assert(DF.jdbcType("vector", binary = false) == ids("VARCHAR"))
  }
}
