package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.sql.{Connection, DriverManager}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

/**
 * Executable downstream apply for the MySQL txn sink (K1): replay the SQL
 * files [[Sinks.sqlFileSink]] renders against a LIVE embedded SQL engine
 * and read the resulting table state back, closing the loop the
 * reference's integration suite checks end-to-end
 * (tests/integration_tests/_utils/check_sync_diff: sync, then diff the
 * downstream DB against upstream).
 *
 * The engine is Apache Derby (the one embedded JDBC database on the Spark
 * classpath — no MySQL socket exists in this environment, a documented
 * non-goal). A thin dialect adapter translates the generated MySQL-isms,
 * exactly what a real consumer applying CDC SQL to a non-MySQL store
 * does:
 *   - backtick identifier quotes → SQL-standard double quotes;
 *   - `REPLACE INTO t (pk, …) VALUES …` → DELETE existing keys + INSERT
 *     (REPLACE's documented semantics) inside the same transaction.
 * INSERT / DELETE statements run unchanged.
 *
 * Files apply in sorted-name order, one transaction per file. Order
 * BETWEEN files is immaterial by construction: the sink partitions rows
 * by causality slot, so all statements touching a key live in one file —
 * the same argument that lets the reference's MySQL sink apply worker
 * queues concurrently (causality.go). Within a file, statement order is
 * the rendered order (commit_ts, pk).
 *
 * Scale shape: this is the TEST HARNESS side of K1 — the downstream
 * database plays the oracle's role. The engine-side work (render,
 * causality partition, batch) is distributed in the sink; verifying a
 * production 100 TB apply uses the ChunkDiff operators (V1-V4) against
 * the downstream, not a driver read-back.
 */
object SqlApply {

  private val ReplaceRe =
    """(?s)^REPLACE INTO (\S+) \(([^)]*)\) VALUES (.*)$""".r
  private val KeyedReplaceRe =
    """(?s)^REPLACE INTO (\S+) VALUES (.*)$""".r

  /** Leading `k` fields of every tuple in a VALUES tail. Values in
    * generated SQL are numeric/NULL/'quoted' scalars, so a paren scan that
    * only respects quotes is exact. */
  private def leadFieldsOfTuples(valuesTail: String, k: Int): Seq[Seq[String]] = {
    val out = Seq.newBuilder[Seq[String]]
    var i = 0
    val s = valuesTail
    while (i < s.length) {
      if (s.charAt(i) == '(') {
        var j = i + 1
        val fields = Seq.newBuilder[String]
        var n = 0
        var depth = 1
        var start = j
        var inQ = false
        while (j < s.length && depth > 0) {
          val c = s.charAt(j)
          if (c == '\'') inQ = !inQ
          else if (!inQ && c == '(') depth += 1
          else if (!inQ && c == ')') depth -= 1
          else if (!inQ && c == ',' && depth == 1) {
            if (n < k) { fields += s.substring(start, j).trim; n += 1 }
            start = j + 1
          }
          j += 1
        }
        if (n < k) fields += s.substring(start, j - 1).trim
        out += fields.result()
        i = j
      } else i += 1
    }
    out.result()
  }

  /**
   * Key-IMPLICIT `REPLACE INTO t VALUES (...)` (the fix-SQL form — MySQL
   * resolves the key from the table's primary key, so the statement
   * carries no column list): the caller supplies the key column names,
   * whose values are the leading tuple fields by fix-SQL construction.
   */
  def toDerbyKeyed(stmt: String, keyCols: Seq[String]): Seq[String] = {
    val std = requoteIdentifiers(stmt)
    std match {
      case KeyedReplaceRe(table, values) =>
        val deletes = leadFieldsOfTuples(values, keyCols.size).map { keys =>
          val preds = keyCols.zip(keys)
            .map { case (c, v) => s"""$c = $v""" }.mkString(" AND ")
          s"DELETE FROM $table WHERE $preds"
        }
        deletes :+ s"INSERT INTO $table VALUES $values"
      case _ => toDerby(stmt)
    }
  }

  /**
   * Generic embedded-engine apply for non-envelope gates: run setup DDL,
   * execute the statements (one JDBC batch, one transaction), evaluate
   * `readSql`, and map its rows out. Table schemas belong to the caller.
   */
  def applyBatch[A](dbName: String, setup: Seq[String],
                    statements: Seq[String])(readSql: String)(
      map: java.sql.ResultSet => A): Vector[A] =
    withConnection(dbName) { conn =>
      val st = conn.createStatement()
      setup.foreach(st.executeUpdate)
      conn.setAutoCommit(false)
      statements.foreach(st.addBatch)
      st.executeBatch()
      conn.commit()
      val rs = st.executeQuery(readSql)
      val out = Vector.newBuilder[A]
      while (rs.next()) out += map(rs)
      rs.close()
      st.close()
      conn.commit()
      out.result()
    }

  /** Backtick → standard-quote identifier translation that leaves
    * single-quoted string literals untouched (a value containing a
    * backtick must survive byte-identical). */
  private def requoteIdentifiers(stmt: String): String = {
    val sb = new java.lang.StringBuilder(stmt.length)
    var inStr = false
    var i = 0
    while (i < stmt.length) {
      val ch = stmt.charAt(i)
      if (ch == '\'') { inStr = !inStr; sb.append(ch) }
      else if (ch == '`' && !inStr) sb.append('"')
      else sb.append(ch)
      i += 1
    }
    sb.toString
  }

  /** MySQL-dialect statement (no trailing `;`) → Derby statements. */
  def toDerby(stmt: String): Seq[String] = {
    val std = requoteIdentifiers(stmt)
    std match {
      case ReplaceRe(table, cols, values) =>
        val keyCol = cols.split(",")(0).trim
        val keys = leadFieldsOfTuples(values, 1).map(_.head)
        Seq(
          s"DELETE FROM $table WHERE $keyCol IN (${keys.mkString(", ")})",
          s"INSERT INTO $table ($cols) VALUES $values")
      case other => Seq(other)
    }
  }

  private def withConnection[A](dbName: String)(f: Connection => A): A = {
    // keep derby.log out of the repo working dir
    if (System.getProperty("derby.system.home") == null)
      System.setProperty("derby.system.home", System.getProperty("java.io.tmpdir"))
    val conn = DriverManager.getConnection(s"jdbc:derby:memory:$dbName;create=true")
    try f(conn)
    finally {
      // roll back any open txn so close() can't mask the real failure
      // with "transaction is still active"
      try { if (!conn.getAutoCommit) conn.rollback() }
      catch { case _: java.sql.SQLException => () }
      conn.close()
      // drop the in-memory database so repeated gate runs start clean
      try DriverManager.getConnection(s"jdbc:derby:memory:$dbName;drop=true")
      catch { case _: java.sql.SQLException => () } // 08006 = success
    }
  }

  /**
   * Apply every `*.sql` file under `sqlDir` to a fresh in-memory Derby
   * database holding `(pk BIGINT PRIMARY KEY, final_val DOUBLE)` tables
   * for each (schema, table) pair, then return the full downstream state
   * as a DataFrame (schema_name, table_name, pk, final_val).
   */
  def applyAndReadState(spark: SparkSession, sqlDir: String,
                        tables: Seq[(String, String)],
                        dbName: String = "graft_apply"): DataFrame = {
    val t0 = System.nanoTime()
    val stateRows = withConnection(dbName) { conn =>
      val st = conn.createStatement()
      tables.map(_._1).distinct.foreach { s =>
        try st.executeUpdate(s"""CREATE SCHEMA "$s"""")
        catch { case _: java.sql.SQLException => () } // exists
      }
      tables.foreach { case (s, t) =>
        st.executeUpdate(
          s"""CREATE TABLE "$s"."$t" ("pk" BIGINT PRIMARY KEY, "final_val" DOUBLE)""")
      }
      val files = {
        val dir = Paths.get(sqlDir)
        val listing = Files.list(dir)
        try listing.iterator().asScala.toVector finally listing.close()
      }
      conn.setAutoCommit(false)
      // Sort by NUMERIC (batchId, partition) parsed from batch<N>_p<P>.sql —
      // lexicographic path order would apply batch10 before batch2.
      def numericKey(p: Path): (Long, Long, String) = {
        val n = p.getFileName.toString
        "batch(\\d+)_p(\\d+)".r.findFirstMatchIn(n) match {
          case Some(m) => (m.group(1).toLong, m.group(2).toLong, n)
          case None => (Long.MaxValue, Long.MaxValue, n)
        }
      }
      files.filter(_.getFileName.toString.endsWith(".sql")).sortBy(numericKey)
        .foreach { p: Path =>
          // one JDBC batch + one txn per rendered file (one sink flush);
          // executeBatch preserves statement order per the JDBC spec
          Files.readAllLines(p).asScala
            .map(_.trim).filter(_.nonEmpty)
            .flatMap(line => toDerby(line.stripSuffix(";")))
            .foreach(st.addBatch)
          st.executeBatch()
          conn.commit()
        }
      val rows = Vector.newBuilder[Row]
      tables.foreach { case (s, t) =>
        val rs = st.executeQuery(s"""SELECT "pk", "final_val" FROM "$s"."$t"""")
        while (rs.next()) {
          val v = rs.getDouble(2)
          rows += Row(s, t, rs.getLong(1), if (rs.wasNull()) null else v)
        }
        rs.close()
      }
      st.close()
      conn.commit() // read-back opened a txn under autoCommit=false
      rows.result()
    }
    System.err.println(
      f"[sqlapply] ${stateRows.size} state rows in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.createDataFrame(
      spark.sparkContext.parallelize(stateRows, 4),
      StructType(Seq(
        StructField("schema_name", StringType, nullable = false),
        StructField("table_name", StringType, nullable = false),
        StructField("pk", LongType, nullable = false),
        StructField("final_val", DoubleType, nullable = true))))
  }
}
