package graft.catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Engine-parity helpers shared by the query families, and the
  * conventions that make a Spark result hash-equal to its DuckDB oracle:
  *  - double sums go through `DECIMAL(18,4)` then cast back to double —
  *    decimal addition is exact and order-independent, so Spark's
  *    partial/final aggregation order cannot diverge from DuckDB's;
  *  - per-row double arithmetic is IEEE-deterministic and identical in
  *    both engines, so row-level doubles are emitted raw;
  *  - `events.ts` is TIMESTAMP(NANOS) parquet: Spark reads it as a ns
  *    Long truncated to µs ([[graft.Tables.events]]); every oracle query
  *    uses `CAST(ts AS TIMESTAMP)` which truncates identically;
  *  - counts/ranks are cast to BIGINT on the Spark side to match DuckDB's
  *    BIGINT count/row_number; DuckDB integer SUMs are cast down from
  *    HUGEINT;
  *  - all rankings carry a unique tiebreak column so top-k sets are
  *    deterministic in both engines.
  */
object Parity {
  // exact, order-independent sum of a double column (see the object scaladoc)
  private[catalog] def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast("double")

  /** Engine-portable round to `scale` decimal digits:
    * floor(x·10^scale + 0.5) / 10^scale — pure IEEE double arithmetic,
    * bit-identical in Spark and DuckDB. Replaces `functions.round` in
    * every oracle-compared column: Spark's round is BigDecimal-HALF_UP
    * on the double's shortest decimal representation while DuckDB's is
    * libm double rounding, and the two disagree whenever a value lands
    * on a half boundary (the r9 q210/q212/q213 hash-mismatch lesson —
    * a 12-digit decimal sum hits a 9-digit half boundary with ~1e-3
    * odds per row, so any fixture regeneration can reopen the class).
    * Ties break toward +∞ in BOTH engines; `portableSqlRounds` rewrites
    * the oracle side to the same form, so the pair stays in lockstep by
    * construction. */
  private[graft] def pround(c: Column, scale: Int): Column = {
    val s = math.pow(10, scale)
    val y = c * s + 0.5
    // Spark's floor(double) returns LONG and silently clamps past 2^63
    // (DuckDB's FLOOR stays double — the q275 Durbin–Watson find):
    // above 2^52 a double is already integral, so floor is the
    // identity there and the long path is exact below it — this makes
    // the floor form overflow-free and bit-identical to DuckDB's
    // FLOOR(x·10ⁿ + 0.5)/10ⁿ at EVERY magnitude.
    when(abs(y) >= 4.503599627370496e15, y).otherwise(floor(y).cast("double")) / s
  }

  /** Driver-side mirror of [[pround]] — the identical IEEE floor form
    * including the 2^52 passthrough branch, for bounded-by-construction
    * frames whose closing arithmetic runs on the driver (q342/q346/
    * q319/q360 tier). A value produced here is bit-identical to the
    * Column form on the same input. */
  private[graft] def proundD(x: Double, scale: Int): Double = {
    val s = math.pow(10, scale)
    val y = x * s + 0.5
    (if (math.abs(y) >= 4.503599627370496e15) y else math.floor(y)) / s
  }

  /** Rewrite every SQL `round(expr, n)` (and `round(expr)`) to the
    * floor form `FLOOR((expr) * 1en + 0.5) / 1en` — the DuckDB twin of
    * `pround`, applied to every oracle string at map construction so no
    * oracle-compared column ever goes through an engine-specific
    * rounding path. Nested rounds rewrite recursively. */
  private[graft] def portableSqlRounds(sql: String): String = {
    val out = new StringBuilder
    val lower = sql.toLowerCase
    var i = 0
    while (i < sql.length) {
      val j = lower.indexOf("round(", i)
      if (j < 0) { out.append(sql.substring(i)); i = sql.length }
      else if (j > 0 && (sql(j - 1).isLetterOrDigit || sql(j - 1) == '_')) {
        out.append(sql.substring(i, j + 6)); i = j + 6 // part of an identifier
      } else {
        out.append(sql.substring(i, j))
        var k = j + 6; var depth = 1; var comma = -1
        while (depth > 0) {
          val c = sql(k)
          if (c == '(') depth += 1
          else if (c == ')') depth -= 1
          else if (c == ',' && depth == 1) comma = k
          k += 1
        }
        val (expr, scale) =
          if (comma < 0) (sql.substring(j + 6, k - 1), 0)
          else (sql.substring(j + 6, comma), sql.substring(comma + 1, k - 1).trim.toInt)
        out.append(s"FLOOR((${portableSqlRounds(expr)}) * 1e$scale + 0.5) / 1e$scale")
        i = k
      }
    }
    out.toString
  }

  /** Three chained Lehmer/MINSTD steps as a portable uniform hash: the
    * modulus is taken BEFORE each multiply, so the product stays < 2^47 —
    * no BIGINT overflow at any id (Spark ANSI and DuckDB both raise on
    * overflow, and a wrapped product would silently diverge). One step is
    * near-monotone for small ids (id·48271 ≪ p); three steps equi-
    * distribute. Pure integer arithmetic → bit-identical in any engine. */
  private[catalog] val LP = 2147483647L
  private[catalog] def lehmer3(id: Column): Column =
    id % LP * 48271L % LP * 48271L % LP * 48271L % LP
  private[catalog] val D = "DECIMAL(18,4)"

  /** DuckDB CTE normalizing events.ts to µs — prepended to every
    * events-based oracle query. */
  private[catalog] val evCte =
    "WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events)"
}
