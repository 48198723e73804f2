package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._

/** Skyline / Pareto-frontier operator (SURVEY B17): the rows no other
  * row dominates, where q dominates p iff q is ≤ p on every MINIMIZED
  * dimension, ≥ on every MAXIMIZED one, and strictly better on at
  * least one. The "best trade-offs" query (cheapest-and-fastest,
  * biggest-and-freshest) that a plain ORDER BY cannot express.
  *
  * Classic two-phase distributed algorithm — never the O(n²)
  * dominance anti-join a naive translation would run:
  *  1. LOCAL skyline per partition (`mapPartitions`, an in-memory
  *     dominance buffer): a point dominated anywhere is dominated by
  *     a member of its own partition's skyline, so phase 1 loses
  *     nothing and collapses each partition to its frontier.
  *  2. GLOBAL skyline of the union of local frontiers on one
  *     partition. Frontier sizes are the skyline's own size order —
  *     tiny against the input (they grow ~log^(d−1) n for random
  *     data); for adversarial all-frontier data raise parallelism or
  *     iterate phase 1.
  *
  * Ties/duplicates: a row equal to another on EVERY dimension is not
  * strictly dominated — both survive (matches the NOT EXISTS
  * dominance oracle).
  */
object Skyline {

  /** Skyline over `dims`: (column name, minimize?). Non-dim columns
    * pass through untouched. Null dimension values are rejected
    * upstream (filter first) — dominance over null is undefined. */
  def of(df: DataFrame, dims: Seq[(String, Boolean)]): DataFrame = {
    val idx = dims.map { case (c, minimize) => (df.schema.fieldIndex(c), minimize) }

    def better(a: Row, b: Row): Boolean = { // a dominates b
      var someStrict = false
      for ((i, minimize) <- idx) {
        val (x, y) = (toD(a, i), toD(b, i))
        val (ax, bx) = if (minimize) (x, y) else (-x, -y)
        if (ax > bx) return false
        if (ax < bx) someStrict = true
      }
      someStrict
    }
    def toD(r: Row, i: Int): Double = r.get(i) match {
      case n: java.lang.Number => n.doubleValue() // incl. java.math.BigDecimal
      case other => throw new IllegalArgumentException(s"non-numeric dim: $other")
    }
    def localSkyline(rows: Iterator[Row]): Iterator[Row] = {
      val frontier = scala.collection.mutable.ArrayBuffer.empty[Row]
      for (r <- rows if !frontier.exists(f => better(f, r))) {
        frontier.filterInPlace(f => !better(r, f))
        frontier += r
      }
      frontier.iterator
    }

    val enc = RowEncoder.encoderFor(df.schema)
    df.mapPartitions(localSkyline _)(enc)
      .repartition(1)
      .mapPartitions(localSkyline _)(enc)
  }
}
