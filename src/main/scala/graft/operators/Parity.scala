package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lit, round}

/** The cross-engine 4dp rounding rule, written once. Two-decimal prices
  * put averages and ratios on round-4 midpoints, where the engines can
  * round a value one ulp off the tie to different sides; both add the
  * same 5e-9 nudge first (the DuckDB oracle as `round(x + 5e-9, 4)`). */
object Parity {
  def r4(c: Column): Column = round(c + lit(5e-9), 4)
}
