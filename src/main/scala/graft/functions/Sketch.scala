package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.GraftBridge.{toColumn => column, toExpression => expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Count-min sketch (Cormode & Muthukrishnan 2005) as a typed Spark
  * `Aggregator` — the custom-UDAF surface of SURVEY §2.8 applied to the
  * 100 TB frequency problem: estimating term counts with a FIXED-size
  * mergeable state (Depth×Width longs ≈ 32 KB) instead of shuffling a
  * corpus-sized word→count map. Partial buffers merge by element-wise
  * add (commutative + associative), so estimates are independent of
  * partitioning and task scheduling — deterministic despite being
  * approximate, which is what makes the q115 output row-stable.
  *
  * Guarantees: est ≥ true (one-sided); est ≤ true + εN with
  * probability 1−δ, ε = e/Width, δ = e^−Depth. Hashes are seeded FNV-1a
  * over the term's UTF-8 BYTES — no RNG state, identical across JVMs,
  * and byte-oriented so the zero-allocation probe path ([[CmsProbe]])
  * can walk a `UTF8String` directly without decoding it; the build path
  * ([[CmsAgg]]) encodes each term once and hashes the same bytes.
  *
  * The probe is a native codegen `Expression` holding the materialized
  * counter array (32 KB, plan-shipped): the prior `udf` probe paid a
  * UTF8String→String decode plus a Scala call per row — measured 1.5 µs
  * /row at sf0.1, 9× the exact aggregation it was prefiltering (r10
  * VERDICT item 3). The expression stays inside whole-stage codegen and
  * hashes bytes in place.
  */
object Sketch {
  val Depth = 4
  val Width = 1024

  private final val FnvPrime = 0x100000001b3L
  private def seedOffset(seed: Int): Long =
    0xcbf29ce484222325L ^ (seed.toLong * 0x9e3779b97f4a7c15L)

  private[graft] def bucketBytes(bs: Array[Byte], seed: Int): Int = {
    var h = seedOffset(seed)
    var i = 0
    while (i < bs.length) { h ^= (bs(i) & 0xFF).toLong; h *= FnvPrime; i += 1 }
    (((h % Width) + Width) % Width).toInt
  }

  private[graft] def bucket(s: String, seed: Int): Int =
    bucketBytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8), seed)

  /** Allocation-free bucket over a UTF8String's bytes — bit-identical to
    * [[bucket]] of the decoded string (same UTF-8 bytes). */
  private[graft] def bucketUtf8(u: UTF8String, seed: Int): Int = {
    var h = seedOffset(seed)
    val n = u.numBytes()
    var i = 0
    while (i < n) { h ^= (u.getByte(i) & 0xFF).toLong; h *= FnvPrime; i += 1 }
    (((h % Width) + Width) % Width).toInt
  }

  class CmsAgg extends Aggregator[String, Array[Long], Array[Long]] {
    def zero: Array[Long] = new Array[Long](Depth * Width)
    def reduce(b: Array[Long], a: String): Array[Long] = {
      if (a != null) {
        val bs = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var d = 0
        while (d < Depth) { b(d * Width + bucketBytes(bs, d)) += 1; d += 1 }
      }
      b
    }
    def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < x.length) { x(i) += y(i); i += 1 }
      x
    }
    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** Column aggregate: one sketch for the whole (grouped) input. */
  def cms(c: Column): Column = udaf(new CmsAgg, ExpressionEncoder[String]()).apply(c)

  /** Point estimate from a materialized sketch (min over the d rows). */
  def estimate(sketch: IndexedSeq[Long], s: String): Long = {
    var m = Long.MaxValue
    val bs = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var d = 0
    while (d < Depth) { m = math.min(m, sketch(d * Width + bucketBytes(bs, d))); d += 1 }
    m
  }

  /** Zero-allocation kernel for the codegen probe. */
  def estimateUtf8(counters: Array[Long], u: UTF8String): Long = {
    if (u == null) return 0L
    var m = Long.MaxValue
    var d = 0
    while (d < Depth) {
      val c = counters(d * Width + bucketUtf8(u, d))
      if (c < m) m = c
      d += 1
    }
    m
  }

  /** Codegen point-estimate of `term` against a materialized counter
    * array — the map-side prefilter probe of q115. Null term → 0.
    * `counters` must be a [[CmsAgg]] result (Depth×Width layout) — checked
    * here so a wrong-shaped array fails at plan build, not mid-task. */
  def probe(counters: Array[Long], term: Column): Column = {
    require(counters.length == Depth * Width,
      s"CMS probe needs a Depth*Width=${Depth * Width} counter array, got ${counters.length}")
    column(CmsProbe(expression(term), counters))
  }

  /** Misra–Gries heavy-hitter summary (Misra & Gries 1982) as a typed
    * mergeable `Aggregator` — the DETERMINISTIC counterpart to [[CmsAgg]]:
    * where CMS answers point queries within εN w.h.p., MG guarantees
    * unconditionally that `true(x) − n/k ≤ est(x) ≤ true(x)` and that
    * every item with `true(x) > n/k` is present in the ≤(k−1)-entry
    * summary. Partial summaries merge by counter addition followed by
    * subtracting the k-th largest combined count (Agarwal et al.,
    * "Mergeable Summaries", PODS'12 — the merge preserves the n/k error
    * bound), so the CANDIDATE SET is partitioning-independent enough to
    * superset the true heavy hitters regardless of task scheduling.
    * State is O(k) per group — at 100 TB the token stream never
    * shuffles; only ≤(k−1)-entry maps do. */
  class MgAgg(k: Int) extends Aggregator[String, Map[String, Long], Map[String, Long]] {
    require(k >= 2, s"MG needs k >= 2, got $k")
    def zero: Map[String, Long] = Map.empty
    def reduce(b: Map[String, Long], a: String): Map[String, Long] =
      if (a == null) b
      else b.get(a) match {
        case Some(c) => b.updated(a, c + 1L)
        case None if b.size < k - 1 => b.updated(a, 1L)
        // decrement-all: drops every counter by 1, evicting zeros —
        // the classic MG step; amortized O(1) decrements per stream item
        case None => b.flatMap { case (w, c) => if (c > 1L) Some(w -> (c - 1L)) else None }
      }
    def merge(x: Map[String, Long], y: Map[String, Long]): Map[String, Long] = {
      val comb = y.foldLeft(x) { case (m, (w, c)) => m.updated(w, m.getOrElse(w, 0L) + c) }
      if (comb.size <= k - 1) comb
      else {
        // subtract the k-th largest count from every counter (mergeable-
        // summaries merge rule): ≤ k−1 survivors, error still ≤ n/k
        val thr = comb.values.toIndexedSeq.sorted(Ordering[Long].reverse)(k - 1)
        comb.flatMap { case (w, c) => if (c > thr) Some(w -> (c - thr)) else None }
      }
    }
    def finish(b: Map[String, Long]): Map[String, Long] = b
    def bufferEncoder: Encoder[Map[String, Long]] = ExpressionEncoder[Map[String, Long]]()
    def outputEncoder: Encoder[Map[String, Long]] = ExpressionEncoder[Map[String, Long]]()
  }

  /** Column aggregate: the ≤(k−1)-entry MG summary of the (grouped) input. */
  def mgSummary(c: Column, k: Int): Column =
    udaf(new MgAgg(k), ExpressionEncoder[String]()).apply(c)
}

/** CMS point estimate with codegen: min over Depth counter rows, hashing
  * the term's UTF8String bytes in place (no decode, no per-row
  * allocation). The counter array rides the plan as a reference object
  * (32 KB per task binary — trivial; a broadcast would add a per-row
  * `value` indirection for nothing at this size). */
case class CmsProbe(child: Expression, counters: Array[Long])
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    Sketch.estimateUtf8(counters, child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val arr = ctx.addReferenceObj("cmsCounters", counters, "long[]")
    ev.copy(code = code"""
      ${c.code}
      long ${ev.value} = graft.functions.Sketch.estimateUtf8(
        $arr, ${c.isNull} ? null : ${c.value});
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
