package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector (embedding) column functions — SURVEY C5-C7.
  *
  * All math is double-precision with sequential accumulation so the
  * DuckDB oracle reproduces results bit-for-bit (SURVEY §4.3): floats
  * are cast to double BEFORE any multiply, sums fold left-to-right.
  *
  * These are higher-order-function implementations (interpreted, not
  * codegen). The hot-path twin is the native codegen expression
  * `graft.plans.CosineSimilarity` (E2) — same math, same results —
  * used by the Similarity operators; these remain as the portable
  * reference implementation and for ad-hoc use.
  */
object VectorFunctions {

  /** Left-to-right double dot product of two float/double arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm (double). */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in double; NOT rounded — callers round per
    * SURVEY §4.3 before thresholds/output. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))
}
