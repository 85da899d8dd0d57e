package graft.operators

import org.apache.spark.sql.DataFrame

/** Side-table plumbing for driver-visible value checks of non-SQL-expressible
  * operators (extraction kernels, PRNG-seeded generators): the registry
  * (SparkEntry.queries) writes an independently-computed oracle result
  * (pipeline.Oracle) as parquet before the operator runs, and the DuckDB
  * oracle SQL reads it back with `read_parquet(...)` — so the
  * rows/schema/hash compare becomes a real cross-implementation value check
  * instead of `no_oracle`. Every such table is written through [[ensure]];
  * operators themselves write nothing.
  *
  * Paths are derived from a configurable root (default: the sbt working
  * directory's target/, so nothing bakes in the checkout location) and carry
  * BOTH the row count and a version tag: a change to the generator or kernel
  * semantics must bump [[Version]], otherwise a stale cached side table could
  * masquerade as a fresh oracle.
  */
object OracleSide {
  /** Bump on any generator/kernel semantics change that alters oracle rows. */
  final val Version = "r4b" // r4b: mm2 payload mix gains baseline JPEG (kind 5/6 of 7)

  def root: String = sys.env.getOrElse("GRAFT_SIDE_ROOT",
    s"${sys.props("user.dir")}/target/oracle_side")

  /** `dir` is the sf corpus directory the rows were computed FROM — its
    * basename is part of the key because row counts alone COLLIDE across
    * scale factors (sf0.001 and sf0.01 both carry 500 embeddings/documents
    * rows): a test run at sf0.001 would otherwise seed the cache with rows
    * Verify at sf0.01 happily reuses, failing the driver's value check with
    * a perfectly correct engine.
    */
  def path(name: String, dir: String, n: Long): String =
    s"$root/${name}_${new java.io.File(dir).getName}_${n}_$Version"

  /** Writes `rows` to `p` unless a complete table (`p/_SUCCESS`) is there;
    * then `rows` is never evaluated (deterministic content, so the bench's
    * best-of-N loop times the query, not the oracle write).
    */
  def ensure(p: String)(rows: => DataFrame): Unit =
    if (!new java.io.File(s"$p/_SUCCESS").exists()) rows.write.mode("overwrite").parquet(p)
}
