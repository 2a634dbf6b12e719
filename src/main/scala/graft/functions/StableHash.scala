package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable deterministic 64-bit hash family.
  *
  * `hash64(s)` = first 15 hex chars of md5(s) as a non-negative
  * int64 (60 bits). md5 is bit-identical across engines, so the same
  * value is computable in DuckDB as
  * `CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)` — which is what
  * makes MinHash/SimHash/LSH pipelines oracle-checkable instead of
  * "trust me" (BASELINE.md hash-match discipline). Spark's own
  * xxhash64 stays preferable when no oracle parity is needed (it's
  * codegen'd and cheaper); use THIS family when DuckDB must agree.
  *
  * Seeding is by prefixing: `hash64(seed || ':' || s)` — each seed
  * selects an (approximately) independent permutation, the standard
  * MinHash construction.
  */
object StableHash {

  /** Non-negative 60-bit hash of a string column; portable to DuckDB.
    * Computed by the fused StableHash64 expression (one codegen'd
    * node); `legacyHash64` keeps the built-in chain it replaces —
    * CatalystExtensionSpec asserts they agree bit-for-bit, which is what
    * ties the Scala fast path to the DuckDB SQL fragment below. */
  def hash64(c: Column): Column =
    org.apache.spark.sql.graftshim.ColumnShim.column(
      StableHash64(org.apache.spark.sql.graftshim.ColumnShim.expression(c.cast("string"))))

  /** The original built-in-composed form (reference for equivalence tests). */
  def legacyHash64(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Seeded variant: independent hash per seed. */
  def hash64(seed: Int, c: Column): Column =
    hash64(concat(lit(seed.toString), lit(":"), c))

  /** DuckDB SQL fragment computing the same value — kept adjacent to
    * the Scala so the two can never drift apart silently. */
  def duckdbHash64(expr: String): String =
    s"CAST(('0x' || substr(md5($expr), 1, 15)) AS BIGINT)"

  def duckdbHash64(seed: Int, expr: String): String =
    duckdbHash64(s"'$seed' || ':' || ($expr)")
}
