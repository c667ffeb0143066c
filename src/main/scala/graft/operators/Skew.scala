package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Parity.r4

/** Skew-handling utilities for hot join keys.
  *
  * AQE's skew-join split handles sort-merge skew at runtime; salting is
  * the explicit pre-plan fix when one key dominates (e.g. one symbol with
  * 100× traffic at 100 TB): the probe side gets a deterministic salt from
  * a high-cardinality column, the build side is replicated once per salt,
  * and the join key becomes (key, salt) — spreading a hot key over
  * `salt` reducers at the cost of replicating the build side.
  */
object Skew {

  /** Inner-join `left` (large, possibly skewed on `key`) with `right`
    * (small enough to replicate `salt` times). `saltSource` must be a
    * left-side column with per-row variety (an id); results equal the
    * plain join exactly. */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      saltSource: String, salt: Int = 8): DataFrame = {
    val l = left.withColumn("_salt", pmod(xxhash64(col(saltSource)), lit(salt)))
    val r = right.withColumn("_salt", explode(sequence(lit(0), lit(salt - 1))))
      .withColumn("_salt", col("_salt").cast("long"))
    l.join(r, Seq(key, "_salt")).drop("_salt")
  }

  /** Join-key skew profile — the diagnosis that justifies (or vetoes)
    * [[saltedJoin]] before anyone pays its build-side replication: the
    * top-k heaviest keys of `df(key)` with exact counts and ppm shares,
    * each row annotated with the global distribution (key count, row
    * count, max / median / p99 per-key count, max-over-median skew
    * ratio).
    *
    * Scale shape: ONE hash aggregate produces the per-key counts; the
    * percentile aggregate over those counts partial-aggregates into
    * (count-value → frequency) maps — the count DOMAIN is tiny (bounded
    * by distinct per-key frequencies, a few hundred values even at
    * 100 TB) so the maps stay dictionary-sized regardless of key
    * cardinality; the top-k is a TakeOrdered (no global sort) and the
    * one-row stats frame broadcasts into the survivors. Shares use
    * exact integer floor-division (ppm), the ratio the house
    * round-4 + 5e-9 double device — every column cross-engine exact. */
  def skewProfile(df: DataFrame, key: String = "user_id",
      k: Int = 10): DataFrame = {
    val counts = df.groupBy(col(key)).agg(count(lit(1)).as("cnt"))
    val stats = counts.agg(
      count(lit(1)).as("n_keys"),
      sum(col("cnt")).as("n_rows"),
      max(col("cnt")).as("max_cnt"),
      expr("percentile(cnt, 0.5D)").as("p50_raw"),
      expr("percentile(cnt, 0.99D)").as("p99_raw"))
    counts
      .orderBy(col("cnt").desc, col(key))
      .limit(k)
      .crossJoin(broadcast(stats))
      .select(col(key), col("cnt"),
        expr("(cnt * 1000000L) DIV n_rows").as("share_ppm"),
        col("n_keys"), col("n_rows"), col("max_cnt"),
        r4(col("p50_raw")).as("p50_cnt"),
        r4(col("p99_raw")).as("p99_cnt"),
        r4(col("max_cnt").cast("double") / col("p50_raw"))
          .as("skew_ratio"))
      .orderBy(col("cnt").desc, col(key))
  }
}
