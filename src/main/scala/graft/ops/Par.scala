package graft.ops

import org.apache.spark.sql.{Column, DataFrame}

/** Operator-local parallelism repair for CPU-DENSE row-local stages
  * (PNG decode, md5 shingle fingerprints, levenshtein verify, to_json
  * row building).
  *
  * At small SFs a base table is a single parquet file = ONE scan
  * partition, so a heavy per-row stage runs serial no matter how many
  * cores the session has (the r19 scaling block's c8≈c32 flat keys).
  * [[spread]] hash-repartitions the frame on a content key up to the
  * session's parallelism — but ONLY when the input has fewer
  * partitions than cores. At 100 TB the scan is already wide, the
  * condition is false, and no payload-shuffling repartition fires
  * (guide §8's rule: never move heavy bytes for free).
  *
  * Deliberately NOT a blanket cache-layout change: an r20 A/B that
  * repartitioned every cached base table measured a uniform ~0.2 s/key
  * task-scheduling tax across the whole 214-key suite (+43 s total
  * against ~20 s of wins) — parallelism is bought per operator, where
  * the per-row work actually pays for it.
  *
  * Hash placement on a key column (never round-robin/rand) keeps row
  * placement content-deterministic; results stay layout-independent by
  * the repo's standing determinism contract (decimal sums, sorted
  * collections).
  */
object Par {
  /** A/B kill-switch (`spark.graft.spread=false` leaves layouts
    * untouched) so spread-vs-no-spread adjudicates on one binary.
    *
    * Give it leaf scans only, or row-local projections of one. The
    * width test reads `df.rdd.getNumPartitions`, which plans `df`
    * eagerly; under AQE that runs every shuffle inside `df` right here,
    * before the caller's own action, and outside its timing and failure
    * handling. */
  def spread(df: DataFrame, key: Column): DataFrame = {
    val on = df.sparkSession.conf
      .get("spark.graft.spread", "true").toBoolean
    val n = df.sparkSession.sparkContext.defaultParallelism
    if (on && df.rdd.getNumPartitions < n) df.repartition(n, key) else df
  }
}
