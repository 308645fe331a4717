package graft.functions

import java.util.UUID
import java.util.concurrent.ThreadLocalRandom
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * RFC-4122 version-1 (time-based) UUID generator.
 *
 * The reference's `now()` mapping function produces a fresh TIMEUUID per
 * column per row — two `now()` targets on the same row must differ, and
 * values must be time-ordered (reference:
 * sink/src/it/.../NowFunctionCCMIT.java:403-465 asserts distinctness and
 * `isLessThanOrEqualTo(Uuids.timeBased())`). Spark's builtin `uuid()` is v4
 * (random) — not time-sortable — so this is a custom expression.
 *
 * Layout (RFC 4122 §4.1.2): 60-bit count of 100ns intervals since
 * 1582-10-15, split time_low/time_mid/time_hi, version=1; 14-bit clock
 * sequence; 48-bit node. We use a per-JVM random node with the multicast bit
 * set (never collides with real MACs) and an atomic counter to disambiguate
 * calls within the same clock tick, so ordering is total within a JVM and
 * monotone across rows.
 */
object TimeUuidGen {
  /** 100-ns intervals between 1582-10-15T00:00Z (UUID epoch) and 1970-01-01T00:00Z. */
  private val GregorianOffset = 122192928000000000L

  // 47 random bits + multicast bit (RFC 4122 §4.5 random node).
  private val node: Long =
    (ThreadLocalRandom.current().nextLong() & 0x0000FFFFFFFFFFFFL) | 0x0000010000000000L
  private val clockSeq: Long = ThreadLocalRandom.current().nextLong() & 0x3FFFL

  // last handed-out 100ns timestamp; bumped when the wall clock hasn't moved.
  private val lastTimestamp = new AtomicLong(0L)

  private def next100Nanos(): Long = {
    while (true) {
      val wall = System.currentTimeMillis() * 10000L + GregorianOffset
      val last = lastTimestamp.get()
      val candidate = if (wall > last) wall else last + 1
      if (lastTimestamp.compareAndSet(last, candidate)) return candidate
    }
    0L // unreachable
  }

  def nextUuid(): UUID = {
    val ts = next100Nanos()
    val msb = ((ts & 0x00000000FFFFFFFFL) << 32) | // time_low
      (((ts >>> 32) & 0xFFFFL) << 16) |            // time_mid
      (0x1L << 12) |                               // version 1
      ((ts >>> 48) & 0x0FFFL)                      // time_hi
    val lsb = 0x8000000000000000L |                // variant IETF
      (clockSeq << 48) |
      node
    new UUID(msb, lsb)
  }
}

/**
 * `now()` as a Catalyst expression: nondeterministic (fresh value per row
 * per column — never constant-folded, never common-subexpression-eliminated),
 * returning the canonical string form of a v1 UUID.
 */
case class TimeUuidExpression() extends LeafExpression with Nondeterministic with CodegenFallback {
  override def nullable: Boolean = false
  override def dataType: DataType = StringType
  override def prettyName: String = "now_timeuuid"
  override protected def initializeInternal(partitionIndex: Int): Unit = ()
  override protected def evalInternal(input: InternalRow): Any =
    UTF8String.fromString(TimeUuidGen.nextUuid().toString)
}

object TimeUuid {
  /** Column-API surface for the mapping compiler. */
  def now_timeuuid(): Column =
    org.apache.spark.sql.GraftBridge.column(TimeUuidExpression())
}
