package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Packing

/** Shard packing (C30): the two-phase distributed prefix sum equals
  * the global-window form at any partition count, and oversized docs
  * claim their own shards. */
class PackingSpec extends SparkSpec {
  import spark.implicits._

  test("matches the global-window prefix sum across partition counts") {
    val docs = (1L to 997L).map(i => (i, (i * 37 % 120))).toDF("doc_id", "tok")
    val expected = docs.withColumn("shard",
        floor(coalesce(sum(col("tok")).over(
          Window.orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0)) / 500).cast("long"))
      .select("doc_id", "shard")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 1024 is the 100 TB-config case: the partition-offset lookup must
    // stay an O(1)-depth literal-map expression, not a per-partition
    // when-chain (1024+ branches deep — codegen splits or falls back,
    // analysis cost grows per partition)
    for (parts <- Seq("3", "16", "1024")) {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        val packed = Packing.packByBudget(docs, col("doc_id"), col("tok"), 500L)
        val out = packed.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
        assert(out == expected, s"mismatch at $parts partitions")
        assert(!packed.queryExecution.analyzed.toString.contains("CASE WHEN"),
          s"partition offsets must be a map-literal lookup, not a when-chain ($parts parts)")
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
  }

  test("a doc bigger than the budget owns its shard; packing is monotone") {
    val docs = Seq((1L, 10L), (2L, 5000L), (3L, 10L), (4L, 10L))
      .toDF("doc_id", "tok")
    val out = Packing.packByBudget(docs, col("doc_id"), col("tok"), 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(1L) == 0L && out(2L) == 0L) // giant doc starts in shard 0
    assert(out(3L) == 50L && out(4L) == 50L) // everyone after lands past it
  }

  // C47 sequence packing -------------------------------------------

  private val seqDocs =
    (1L to 499L).map(i => (i, i * 41 % 300)).toDF("doc_id", "tok")

  test("packSequences: every window holds exactly seqLen tokens but the last") {
    val out = Packing.packSequences(seqDocs, col("doc_id"), col("tok"), 256L, "e1")
    val sums = out.groupBy(col("seq_id"))
      .agg(sum(col("end_tok") - col("begin_tok")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lastSeq = sums.keys.max
    val total = seqDocs.agg(sum(col("tok"))).head().getLong(0)
    assert(sums.keys.toSeq.sorted == (0L to lastSeq), "windows are contiguous")
    assert((0L until lastSeq).forall(sums(_) == 256L), "full windows exact")
    assert(sums(lastSeq) == total - 256L * lastSeq, "tail window holds the rest")
  }

  test("packSequences: segments of each doc are contiguous and cover [0, tok)") {
    val out = Packing.packSequences(seqDocs, col("doc_id"), col("tok"), 256L, "e1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    val toks = seqDocs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == toks.filter(_._2 > 0).keySet, "zero-token docs dropped")
    for ((id, segs0) <- out) {
      val segs = segs0.sortBy(_._2)
      assert(segs.map(_._2).distinct.length == segs.length, "one segment per window")
      assert(segs.head._3 == 0L && segs.last._4 == toks(id))
      assert(segs.zip(segs.tail).forall { case (a, b) =>
        a._4 == b._3 && a._2 + 1 == b._2 }, s"doc $id segments contiguous")
    }
  }

  test("packSequences matches the global-window form across partition counts") {
    val expected = {
      val okey = md5(concat(lit("e1:"), col("doc_id").cast("string")))
      val w = Window.orderBy(okey, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      seqDocs.filter(col("tok") > 0)
        .withColumn("start", coalesce(sum(col("tok")).over(w), lit(0L)))
        .select(col("doc_id"), col("start"),
          explode(sequence(floor(col("start") / 256).cast("long"),
            floor((col("start") + col("tok") - 1) / 256).cast("long"))).as("seq_id"))
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    }
    for (parts <- Seq("3", "16")) {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        val out = Packing.packSequences(seqDocs, col("doc_id"), col("tok"), 256L, "e1")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(out == expected, s"mismatch at $parts partitions")
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
  }

  test("packSequences: a different seed is a different permutation, same mass") {
    val e1 = Packing.packSequences(seqDocs, col("doc_id"), col("tok"), 256L, "e1")
    val e2 = Packing.packSequences(seqDocs, col("doc_id"), col("tok"), 256L, "e2")
    assert(e1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet !=
      e2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    def total(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum(col("end_tok") - col("begin_tok"))).head().getLong(0)
    assert(total(e1) == total(e2), "every epoch carries the full corpus")
  }
}
