package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic cross-engine rounding.
  *
  * Spark's `round()` rounds the shortest DECIMAL representation of a double
  * (BigDecimal HALF_UP), while DuckDB/C round the BINARY value — on exact
  * half boundaries (e.g. 0.86875) the two disagree by one final digit,
  * which is enough to flip a value-hash compare. `floor(x * 10^k + 0.5)`
  * is pure IEEE double arithmetic, bit-identical in any engine that
  * evaluates the same ops, so query outputs round identically on the Spark
  * and oracle sides (oracle SQL mirrors the same expression).
  */
object Rounding {
  /** Half-up to 4 decimals via binary-deterministic arithmetic. */
  def half4(c: Column): Column = floor(c * 10000 + 0.5) / 10000.0

  /** Half-up to 2 decimals via binary-deterministic arithmetic. */
  def half2(c: Column): Column = floor(c * 100 + 0.5) / 100.0
}
