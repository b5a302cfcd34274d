package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared operator query: a Spark implementation plus (usually) an
  * equivalent DuckDB oracle SQL for the driver's differential gate
  * (SURVEY.md §5.2). `oracle = None` → driver records a weaker rows-only
  * check (for ops whose exact results aren't SQL-expressible in DuckDB,
  * e.g. approx sketches, sampling).
  *
  * Determinism contract for every oracle-checked query (SURVEY.md §7.4):
  *  - fully ORDER BY-ed with explicit null ordering on both sides;
  *  - double sums routed through DECIMAL so both engines compute the
  *    identical exact value (then cast back to double);
  *  - column names aliased identically on both sides;
  *  - no first/any_value/random without a deterministic rewrite.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    oracleThunk: Option[() => String] = None) {

  /** The oracle SQL as dumped: the static string when given, else the
    * thunk rendered AT DUMP TIME. The thunk exists for oracles that
    * embed dataset-trained constants (dd_semantic_ivf's k-means
    * centroids): Verify and Bench both dump oracle_sql.json after the
    * suite ran against the target dataset, so the thunk renders against
    * the session registered on exactly that data.
    */
  def oracleValue: Option[String] = oracle.orElse(oracleThunk.map(_()))
}

object Q {
  /** Build a query that just registers the fixture views then runs `body`. */
  def apply(name: String, oracle: String)(
      body: SparkSession => DataFrame): Q =
    Q(name, (s: SparkSession, dir: String) => {
      Tables.register(s, dir); body(s)
    }, Some(oracle))

  /** A query whose oracle SQL is rendered lazily at dump time (see
    * [[Q.oracleValue]]); `oracleFn` must be a pure function of the
    * active session's registered dataset.
    */
  def dynOracle(name: String)(oracleFn: => String)(
      body: SparkSession => DataFrame): Q =
    Q(name, (s: SparkSession, dir: String) => {
      Tables.register(s, dir); body(s)
    }, None, Some(() => oracleFn))
}
