package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.config.SourceConfig

/** File-to-config routing (`RouteFileToConfig`, `M/main.py:37-63`):
  * a prefix-predicate lookup — each URI gets the FIRST config (in
  * declaration order) whose `source_gcs_prefix` is a prefix of the URI;
  * non-matching URIs are dropped (counted in the reference).
  *
  * Scale design: the config list is a plan-time constant (loaded once at
  * launch, `M/main.py:431-432`), so the reference's per-element Python
  * loop folds into a `when`-chain Column — first-match-wins is the
  * chain order, the whole thing whole-stage-codegens, and there is NO
  * join and NO shuffle. O(configs) string prefix tests per row, the
  * same work the reference does per element, minus the interpreter.
  * (A broadcast theta-join variant was measured and rejected: the
  * min_by(struct) aggregation it needs for first-match-wins plans as
  * SortAggregate + shuffle — strictly worse than a codegen'd chain for
  * any config list that fits a broadcast anyway.)
  */
object Router {

  /** First matching config's `pick` attribute in declaration order, else
    * null. IMPORTANT: chains here must stay flat (keyed directly on the
    * uri) — deriving one when-chain from another (e.g. file_type from a
    * config_id chain) gets inlined by CollapseProject and then costs the
    * optimizer minutes in expression simplification. */
  private def firstMatch(uri: Column, configs: Seq[SourceConfig])(
      pick: SourceConfig => String): Column =
    configs.foldRight(lit(null).cast(StringType)) { (cfg, els) =>
      when(uri.startsWith(cfg.sourcePrefix), lit(pick(cfg))).otherwise(els)
    }

  /** First matching config_id in declaration order, else null. */
  def firstMatchExpr(uri: Column, configs: Seq[SourceConfig]): Column =
    firstMatch(uri, configs)(_.configId)

  /** Normalize a Spark-reported file URI (`input_file_name()` yields
    * `file:///path` or `file:/path` for local storage) back to the
    * plain-path form configs are written against. Cloud schemes
    * (`gs://`, `s3a://`) keep their scheme — their configs carry it
    * too. `input_file_name()` percent-encodes (a path with a space
    * arrives as `%20`), so the path is percent-DECODED before prefix
    * matching — otherwise any config prefix containing a URI-special
    * character silently matches nothing. `url_decode` is form
    * decoding (`+` → space), which is wrong for literal `+` in file
    * names, so `+` is pre-escaped to `%2B` to make it a pure
    * percent-decode. */
  def normalizeFileUri(c: Column): Column =
    url_decode(regexp_replace(
      regexp_replace(c, "^file:/+", "/"), "\\+", "%2B"))

  /** @param uris DataFrame with a string `uri` column.
    * @return (uri, config_id, file_type) — one row per matched URI;
    *   null/unmatched URIs dropped (`M/main.py:460,55-63`). */
  def route(uris: DataFrame, configs: Seq[SourceConfig]): DataFrame =
    uris
      .filter(col("uri").isNotNull) // FilterOutNoneURIs (`M/main.py:460`)
      .withColumn("config_id", firstMatchExpr(col("uri"), configs))
      .filter(col("config_id").isNotNull)
      .withColumn("file_type", firstMatch(col("uri"), configs)(_.fileType))
      .select("uri", "config_id", "file_type")

  /** Routed pairs whose config is a PARQUET config — `FilterParquet`
    * (`M/main.py:475-480`), case-insensitive. */
  def routeParquet(uris: DataFrame, configs: Seq[SourceConfig]): DataFrame =
    route(uris, configs)
      .filter(upper(col("file_type")) === "PARQUET")
      .select(col("uri"), col("config_id"))

  /** Router metric counters as data (A3): one row per config with its
    * matched-URI count (`Metrics.counter("Router", "matched_<id>")`,
    * `M/main.py:55-58`) plus one `__unmatched__` row
    * (`"unmatched_uri"`, `M/main.py:61-63`). Null URIs are dropped
    * before counting, as in the reference (P1 precedes P2). Configs
    * that matched nothing still get a 0 row so the output schema is
    * stable — a monitoring dashboard needs the zero. */
  def routeCounts(uris: DataFrame, configs: Seq[SourceConfig]): DataFrame = {
    val spark = uris.sparkSession
    import spark.implicits._
    val counted = uris
      .filter(col("uri").isNotNull)
      .select(coalesce(firstMatchExpr(col("uri"), configs),
        lit("__unmatched__")).as("config_id"))
      .groupBy(col("config_id")).agg(count(lit(1)).as("n"))
    val zeros = (configs.map(_.configId) :+ "__unmatched__")
      .toDF("config_id")
    zeros.join(counted, Seq("config_id"), "left")
      .select(col("config_id"), coalesce(col("n"), lit(0L)).as("n"))
  }
}
