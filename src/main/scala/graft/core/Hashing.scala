package graft.core

import java.nio.ByteBuffer
import java.security.MessageDigest
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Engine-portable deterministic hashing used by every operator whose result
 * must be reproducible in the DuckDB oracle (dispatchers, dedup, LSH,
 * fingerprints, diff checksums).
 *
 * Production note (100 TB path): [[portableLong]] is one codegen'd md5
 * per row over the string's bytes ([[graft.functions.Md5Long]]), and every
 * builder here takes it because the correctness gate needs cross-engine
 * equality. `xxhash64` ([[fastLong]]) is cheaper still but NOT portable:
 * same distribution properties, different values, so swap it in only
 * where no oracle reads the result.
 */
object Hashing {

  /** 60-bit integer from the first 15 hex chars of md5 — identical in Spark
    * (`conv(substring(md5(x),1,15),16,10)`) and DuckDB
    * (`('0x' || substr(md5(x),1,15))::BIGINT`). */
  def portableLong(c: Column): Column = ExpressionUtils.column(
    graft.functions.Md5Long(ExpressionUtils.expression(c.cast("string"))))

  private val Md5 = ThreadLocal.withInitial[MessageDigest](
    () => MessageDigest.getInstance("MD5"))

  /** The 16-byte md5 digest, on this thread's digester. */
  def md5(bytes: Array[Byte]): Array[Byte] = Md5.get().digest(bytes)

  /** The value of [[portableLong]] on the JVM, for kernels and driver
    * code: the first 8 md5 bytes big-endian, dropping the 16th hex digit
    * (`>>> 4`), so always in [0, 2^60). A heap `UTF8String` is digested in
    * place; the digester is per thread. */
  def md5Long(s: UTF8String): Long = md5Long(s.getByteBuffer)
  def md5Long(bytes: Array[Byte]): Long = md5Long(ByteBuffer.wrap(bytes))
  private def md5Long(buf: ByteBuffer): Long = {
    val md = Md5.get()
    md.update(buf)
    val d = md.digest()
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** Production variant: Spark's native xxhash64 (codegen'd, no string
    * materialization). NOT oracle-portable. */
  def fastLong(c: Column*): Column = xxhash64(c: _*)

  /** Knuth multiplicative 32-bit mix of a long key — used by partition
    * dispatchers; portable (pure int64 arithmetic). */
  def mix32(key: Column): Column =
    pmod(pmod(key, lit(2147483647L)) * lit(2654435761L), lit(4294967296L))

  /** Seeded portable hash of a string: h_k(s) = portableLong(s + "#" + k). */
  def seeded(c: Column, seed: Column): Column =
    portableLong(concat(c, lit("#"), seed.cast("string")))

  /**
   * Cheap seeded INTEGER re-hash of an already-hashed value — the (a·x+b)
   * mod p universal family with seed-derived a, b. Turns "k seeded hashes
   * of a string" into ONE md5 plus k integer mixes (12× fewer digest
   * calls in MinHash); all arithmetic stays inside int64.
   */
  val MixP = 2147483647L // 2^31 - 1
  def seededMix(h: Column, seed: Int): Column =
    pmod(pmod(h, lit(MixP)) * lit(2L * seed + 3L) + lit(seed.toLong), lit(MixP))

  /** DuckDB SQL twins — keep in lockstep with the Column builders above. */
  object Sql {
    def portableLong(e: String): String =
      s"CAST(('0x' || substr(md5(CAST($e AS VARCHAR)), 1, 15)) AS BIGINT)"
    def mix32(e: String): String =
      s"((($e) % 2147483647) * 2654435761) % 4294967296"
    def seeded(e: String, seed: String): String =
      portableLong(s"($e) || '#' || CAST($seed AS VARCHAR)")
    def seededMix(hE: String, seed: Int): String =
      s"((($hE) % $MixP) * ${2L * seed + 3L} + $seed) % $MixP"
  }
}
