package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** One gated query: its Spark builder over a scale-factor dir, its DuckDB
  * oracle over the same tables (same column names, engine-divergence-safe
  * arithmetic: decimal sums, ppm integer ratios, epoch integers), and the
  * output cap both sides share, if any. Verify, Bench and the tests see
  * the specs only through [[graft.SparkEntry.queries]] and
  * [[graft.SparkEntry.oracleSql]].
  *
  * Oracles whose unrolled CTE chains reference a step several times write
  * `AS MATERIALIZED (`: DuckDB inlines a plain CTE at every reference, so
  * a step chain where step N reads step N−1 three times (join + NOT
  * EXISTS + carry branch) re-evaluates step 1 exponentially —
  * sim_mmr_rerank measured 178 s at sf0.01, 0.34 s materialized, results
  * bit-identical. The hint changes evaluation strategy only; each such
  * oracle was validated equal-and-faster against its inlined form at
  * sf0.01, and oracles where inlining wins (e.g. dedup_contamination,
  * whose single-reference CTEs benefit from filter pushdown) stay plain. */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String,
    cap: Option[Cap] = None) {

  /** The query as gated and benched: the cap's post-filter applied unless
    * the body applies it itself. */
  def run: (SparkSession, String) => DataFrame = cap match {
    case Some(c) if !c.inBody => (s, d) => build(s, d).filter(expr(c.predicate))
    case _ => build
  }

  /** The oracle as gated: the cap's post-filter wraps it. The filter
    * commutes with an in-body cap, so both sides stay row-identical. */
  def oracleSql: String =
    cap.fold(oracle)(c => s"SELECT * FROM ($oracle) WHERE ${c.predicate}")
}

/** Output-subset cap: the full operator still computes, and a
  * deterministic key-modulus post-filter on the final result is applied as
  * the same textual predicate to the Spark query and the DuckDB oracle, so
  * the gate's strength is unchanged while 10k–240k-row dumps shrink to
  * ~1000 rows each (moduli target that at sf0.01). This bounds the
  * per-query parquet write + DuckDB compare + hash cost, which is what
  * timed out CORRECTNESS_r10 to `{}`. `key` is an expression over output
  * columns. `inBody` marks a query that applies the predicate itself on a
  * raw column before an expensive derivation: the generic post-filter
  * would make Catalyst inline the derivation into the pushed-down
  * predicate and evaluate it twice per row. */
final case class Cap(key: String, modulus: Int, inBody: Boolean = false) {
  def predicate: String = s"($key) % $modulus = 0"
}
