package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Dev tool: amplify a scale dir K× for scaling measurements (the sf1 point
 * NOTES.md records). Each fact table is unioned as K key-shifted copies so
 * cardinalities, distinct keys, and the derived CDC ts range all grow K×;
 * document text is prefixed with a per-copy token so near-dup structure
 * does not artificially densify (identical text in every copy would make
 * LSH bucket joins quadratic in K — a data property, not an engine one).
 * Dimension tables are copied as-is (broadcast sides stay realistic).
 *
 * Usage: tools/run.sh graft.ScaleGen [srcDir] [dstDir] [K]
 */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse(
      System.getProperty("java.io.tmpdir") + "/graft_sf1")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Session.local(32)
    spark.sparkContext.setLogLevel("WARN")

    def amplify(table: String, keyCols: Seq[String],
                perCopy: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = {
      val base = graft.core.Tables.load(spark, src, table)
      val shifts = keyCols.map { c =>
        c -> (base.agg(max(col(c))).head().getLong(0) + 1L)
      }
      val out = (0 until k).map { i =>
        val shifted = shifts.foldLeft(base) { case (d, (c, span)) =>
          d.withColumn(c, col(c) + lit(i * span))
        }
        perCopy(shifted, i)
      }.reduce(_.unionByName(_))
      out.write.mode("overwrite").parquet(s"$dst/$table.parquet")
      System.err.println(s"[scalegen] $table x$k done")
    }
    def copy(table: String): Unit = {
      graft.core.Tables.load(spark, src, table)
        .write.mode("overwrite").parquet(s"$dst/$table.parquet")
      System.err.println(s"[scalegen] $table copied")
    }

    amplify("events", Seq("event_id", "user_id"))
    amplify("documents", Seq("doc_id"), (d, i) =>
      if (i == 0) d
      else d.withColumn("text", concat(lit(s"c$i "), col("text")))
        .withColumn("n_chars", col("n_chars") + lit(s"c$i ".length.toLong)))
    amplify("embeddings", Seq("vec_id"))
    amplify("lineitem", Seq("l_orderkey"))
    amplify("orders", Seq("o_orderkey"))
    Seq("customer", "supplier", "part", "nation", "region").foreach(copy)
    spark.stop()
  }
}
