package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** md5-derived 64-bit hashing — the ORACLE-RECOMPUTABLE hash family.
  *
  * xxhash64/murmur3 are Spark-only, so any operator built on them can at
  * best be rows-only at the driver's DuckDB gate. DuckDB 1.0 ships
  * `md5_number_upper(s)` / `md5_number_lower(s)`: the UBIGINT read
  * LITTLE-ENDIAN from the first / last 8 bytes of the md5 digest (pinned
  * empirically: md5_number_upper('abc') = 12704604231530709392 =
  * le64(digest[0..8])). `le64` here reproduces exactly that value as a
  * signed Long (same 64 bits), which makes every hash built from it
  * bit-recomputable in the oracle's SQL dialect — the bridge that promotes
  * MinHash and SimHash from rows-only to hash-exact correctness rows.
  *
  * Digest instances are thread-local: MessageDigest is stateful and
  * eval runs concurrently across task threads.
  */
object Md5Hash64 {
  private val digests = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  def digest(s: UTF8String): Array[Byte] = {
    val md = digests.get()
    md.reset()
    md.digest(s.getBytes)
  }

  /** Little-endian signed 64-bit read of `d[off .. off+8)`. */
  def le64(d: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = 7
    while (i >= 0) { v = (v << 8) | (d(off + i) & 0xffL); i -= 1 }
    v
  }

  /** = DuckDB md5_number_upper(s), reinterpreted as signed BIGINT. */
  def hashUpper(s: UTF8String): Long = le64(digest(s), 0)

  def md5_le64(c: Column): Column =
    CatalystBridge.column(Md5Le64(CatalystBridge.expression(c)))
}

/** `md5_le64(s)`: little-endian signed long of the first 8 md5-digest bytes
  * (= DuckDB's `md5_number_upper`). Scalar building block for the md5 hash
  * family; also the twin the HOF-equivalence specs rebuild from Spark's own
  * `md5()` hex output via byte-pair reversal + signed `conv`.
  */
case class Md5Le64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"md5_le64 requires string, got ${t.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(Md5Hash64.hashUpper(v.asInstanceOf[UTF8String]))

  override protected def withNewChildInternal(c: Expression): Md5Le64 =
    copy(child = c)
}
