package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: synthesize a larger scale factor from an existing one
  * (default: sf1 = 10 × sf0.1) for SCALING measurements — the
  * "does the time grow linearly?" evidence SURVEY §6 records. Not a
  * data generator for correctness runs: oracle checks stay on the
  * driver-provided sf dirs.
  *
  * Each copy k shifts every primary/foreign key by k·(max+1), so join
  * relationships hold per copy and the overall key space stays dense.
  * Two tables need more than key shifts, because replicating content
  * VERBATIM would make every row's 9 clones mutual near-duplicates —
  * pair-generating operators would then do 100× the work at 10× the
  * data and the measurement would read as super-linear even when the
  * engine scales perfectly:
  *
  *  - documents: copy k > 0 prefixes every whitespace token with
  *    "k<k>·" — token/shingle COUNTS (and so per-copy dup structure)
  *    are identical, but the copies' vocabularies are disjoint, so no
  *    cross-copy shingle ever matches;
  *  - embeddings: copy k cyclically rotates the vector by (k·7) mod
  *    dims — norms and all WITHIN-copy angles are exactly preserved
  *    (rotation is orthogonal), while cross-copy pairs decorrelate.
  *
  * Dimension tables (region, nation) keep TPC-H semantics: they do
  * not scale.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    require(factor >= 1, s"factor must be >= 1, got $factor")
    // events.ts in the TIMESTAMP(NANOS) form reads as a raw long (the
    // session's nanosAsLong) and is written back as that long —
    // Tables.load applies the same nanos→micros conversion to both forms
    val spark = GraftSession.build()

    def in(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scalegen] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1
    def copies(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(k => f(df, k)).reduce(_ unionByName _)
    def shift(k: Int, s: Long)(c: String) = (col(c) + lit(k * s)).as(c)

    // dimension tables pass through unscaled
    write(in("region"), "region")
    write(in("nation"), "nation")

    val (customer, orders, lineitem, supplier, part, events) =
      (in("customer"), in("orders"), in("lineitem"), in("supplier"), in("part"), in("events"))
    val (sC, sO, sS, sP) = (stride(customer, "c_custkey"), stride(orders, "o_orderkey"),
      stride(supplier, "s_suppkey"), stride(part, "p_partkey"))

    write(copies(customer) { (df, k) =>
      df.select(shift(k, sC)("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
    }, "customer")
    write(copies(supplier) { (df, k) =>
      df.select(shift(k, sS)("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
    }, "supplier")
    write(copies(part) { (df, k) =>
      df.select(shift(k, sP)("p_partkey"), col("p_name"), col("p_brand"), col("p_type"),
        col("p_size"), col("p_retailprice"))
    }, "part")
    write(copies(orders) { (df, k) =>
      df.select(shift(k, sO)("o_orderkey"), shift(k, sC)("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
    }, "orders")
    write(copies(lineitem) { (df, k) =>
      df.select(shift(k, sO)("l_orderkey"), shift(k, sP)("l_partkey"), shift(k, sS)("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"), col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
    }, "lineitem")

    val (sE, sU) = (stride(events, "event_id"), stride(events, "user_id"))
    write(copies(events) { (df, k) =>
      df.select(shift(k, sE)("event_id"), col("ts"), shift(k, sU)("user_id"),
        col("event_type"), col("value"), col("props"))
    }, "events")

    val documents = in("documents")
    val sD = stride(documents, "doc_id")
    write(copies(documents) { (df, k) =>
      val text = if (k == 0) col("text")
        else array_join(transform(split(col("text"), " "),
          w => concat(lit(s"k$k"), w)), " ")
      df.select(shift(k, sD)("doc_id"), text.as("text"), col("lang"), col("source"),
        length(text).cast("long").as("n_chars"))
    }, "documents")

    val embeddings = in("embeddings")
    val sV = stride(embeddings, "vec_id")
    val dims = embeddings.select(size(col("embedding"))).head().getInt(0)
    write(copies(embeddings) { (df, k) =>
      val rot = (k * 7) % dims
      val emb = if (rot == 0) col("embedding")
        else concat(slice(col("embedding"), rot + 1, dims - rot), slice(col("embedding"), 1, rot))
      df.select(shift(k, sV)("vec_id"), emb.as("embedding"))
    }, "embeddings")

    spark.stop()
  }
}
