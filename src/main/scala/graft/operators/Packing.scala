package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Token-budget shard packing (SURVEY C30): assign documents to
  * fixed-budget training shards in a deterministic key order —
  * shard(doc) = ⌊(exclusive prefix sum of weights in id order) /
  * budget⌋. The last step before a corpus ships: writers want
  * shards of ~equal token mass, reproducibly.
  *
  * The naive form is a GLOBAL-ORDER window cumsum — a single
  * partition holding the corpus. Here it is the classic two-phase
  * distributed prefix sum instead:
  *   1. range-repartition by the key, so partition p holds a
  *      contiguous key range;
  *   2. per-partition totals → driver (one row per PARTITION —
  *      model-sized) → exclusive partition offsets;
  *   3. within-partition cumsum via a window PARTITIONED by the
  *      partition id (32 parallel windows, never one global one) +
  *      the broadcast offset.
  * Every row's prefix is exact regardless of where the range
  * boundaries fall, so the output is identical to the global-window
  * form (which is the DuckDB oracle).
  */
object Packing {

  /** Two-phase distributed exclusive prefix sum of column `w` over
    * the total order given by `orderCols`. Input must already carry
    * the columns named in `orderCols` plus `w`; output adds
    * `prefix` (sum of `w` over all strictly-preceding rows). */
  private def exclusivePrefix(rows: DataFrame,
                              orderCols: Seq[String]): DataFrame = {
    val spark = rows.sparkSession
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // materialized ONCE: the totals pass and the prefix pass must see
    // the SAME range boundaries (RangePartitioner samples its bounds,
    // and pid-keyed offsets are only valid under the bounds they were
    // computed from). Storage is narrow rows — and localCheckpoint
    // spills to disk; at extreme scale substitute a persisted table
    // of the same projection.
    val ranged = rows
      .repartitionByRange(nPart, orderCols.map(col): _*)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint(true)
    // partition totals: one row per partition reaches the driver
    val totals = ranged.groupBy(col("pid")).agg(sum(col("w")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val pids = totals.keys.toSeq.sorted
    val offsets = pids.zip(pids.scanLeft(0L)((acc, p) => acc + totals(p))).toMap
    // a lookup function, not a literal: the offsets come from the
    // RDD-id-seeded range sample, so a literal would make the plan
    // text differ run to run; the function prints as
    // partition_offset(pid) and carries the map to the tasks. One O(1)
    // node at any partition count, never a per-partition when-chain
    // whose expression tree (and analysis and codegen) grows with the
    // 1024-4096 shuffle partitions a 100 TB run needs (PackingSpec
    // pins the output at 1024 partitions).
    val offCol = udf((pid: Int) => offsets.getOrElse(pid, 0L))
      .asNonNullable().withName("partition_offset")(col("pid"))
    val w = Window.partitionBy(col("pid")).orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged.withColumn("prefix", offCol + sum(col("w")).over(w) - col("w"))
  }

  /** (id, weight, shard): shard = ⌊exclusive-prefix(weight) /
    * budget⌋ in ascending id order. Weights must be non-negative;
    * a single weight larger than `budget` gets its own shard(s). */
  def packByBudget(docs: DataFrame, id: Column, weight: Column,
                   budget: Long): DataFrame = {
    require(budget > 0, "budget > 0")
    val rows = docs.select(id.as("id"), weight.cast("long").as("w"))
    exclusivePrefix(rows, Seq("id"))
      .select(col("id"), col("w").as("weight"),
        floor(col("prefix") / budget).cast("long").as("shard"))
  }

  /** Training-sequence packing (SURVEY C47) — the concat-and-split
    * step of LLM pretraining (GPT-2/3, T5 style: shuffle documents,
    * concatenate their token streams, cut into fixed `seqLen`
    * context windows; boundary documents span two windows).
    *
    * The shuffle order is `md5(seed:id)` — a deterministic,
    * engine-portable permutation (SURVEY §4.1, same discipline as
    * C17 sampling), so "epoch 2" is just a different `seed` and the
    * whole epoch materialization is reproducible bit-for-bit.
    *
    * Emits one row per (document, window) SEGMENT:
    * `(id, seq_id, begin_tok, end_tok)` — token offsets WITHIN the
    * document, end-exclusive, so segments of a doc are contiguous,
    * cover [0, weight), and every window's segment lengths sum to
    * exactly `seqLen` (except the final window). Zero-weight docs
    * contribute no tokens and are dropped.
    *
    * Scale: the same two-phase prefix sum as [[packByBudget]] (never
    * a global single-partition window) + a map-side explode of at
    * most ⌈weight/seqLen⌉+1 segments per doc. */
  def packSequences(docs: DataFrame, id: Column, weight: Column,
                    seqLen: Long, seed: String): DataFrame = {
    require(seqLen > 0, "seqLen > 0")
    val rows = docs.select(id.as("id"), weight.cast("long").as("w"))
      .filter(col("w") > 0)
      .withColumn("okey", md5(concat(lit(seed + ":"), col("id").cast("string"))))
    val first = floor(col("prefix") / seqLen).cast("long")
    val last = floor((col("prefix") + col("w") - lit(1L)) / seqLen).cast("long")
    exclusivePrefix(rows, Seq("okey", "id"))
      .select(col("id"), col("prefix"), col("w"),
        explode(sequence(first, last)).as("seq_id"))
      .select(col("id"), col("seq_id"),
        greatest(lit(0L), col("seq_id") * seqLen - col("prefix"))
          .cast("long").as("begin_tok"),
        least(col("w"), (col("seq_id") + lit(1L)) * seqLen - col("prefix"))
          .cast("long").as("end_tok"))
  }
}
