package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** Degenerate-input behavior of the round-3 operators: empty and
  * near-empty corpora must produce empty/identity results or a
  * clear error — never a crash mid-plan or a silent wrong answer. */
class DegenerateInputSpec extends SparkSpec {
  import spark.implicits._

  private lazy val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
  private lazy val noEvents = Seq.empty[(Long, java.sql.Timestamp, String)]
    .toDF("user_id", "ts", "event_type")

  test("Funnel.steps on empty events: every stage counts zero") {
    val out = Funnel.steps(noEvents, col("user_id"), col("ts"), col("event_type"),
        Seq("view", "click"))
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 0L), (2L, 0L)))
  }

  test("Funnel.retentionCohorts on empty events: empty grid") {
    assert(Funnel.retentionCohorts(noEvents, col("user_id"), col("ts")).count() == 0)
  }

  test("Packing on empty and single-row inputs") {
    assert(Packing.packByBudget(noDocs, col("doc_id"), lit(1L), 10L).count() == 0)
    val one = Packing.packByBudget(Seq((5L, "x")).toDF("doc_id", "text"),
        col("doc_id"), lit(7L), 10L)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(one.toSeq == Seq((5L, 0L)))
  }

  test("Packing.packSequences on empty, zero-weight and single-row inputs") {
    assert(Packing.packSequences(noDocs, col("doc_id"), lit(1L), 10L, "e").count() == 0)
    val zero = Seq((5L, "x")).toDF("doc_id", "text")
    assert(Packing.packSequences(zero, col("doc_id"), lit(0L), 10L, "e").count() == 0)
    val one = Packing.packSequences(zero, col("doc_id"), lit(25L), 10L, "e")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).sorted
    assert(one.toSeq == Seq((0L, 0L, 10L), (1L, 10L, 20L), (2L, 20L, 25L)))
  }

  test("Sketches on empty input: no group rows, no phantom '*' estimates") {
    val d = Sketches.distinctByGroup(noDocs, col("text"), col("doc_id"))
      .collect()
    // the '*' row may exist but must not claim a positive count
    assert(d.forall(r => r.isNullAt(1) || r.getLong(1) == 0L), d.mkString(","))
    val o = Sketches.setOverlap(noDocs, noDocs, col("doc_id")).head()
    assert((0 to 3).forall(i => o.isNullAt(i) || o.getLong(i) == 0L), o.toString)
  }

  test("LangModel on an empty corpus: scoring yields no rows, no crash") {
    val model = LangModel.train(noDocs, col("text"))
    assert(LangModel.score(noDocs, col("doc_id"), col("text"), model).count() == 0)
  }

  test("Snapshot.diff with one empty side classifies everything") {
    val t1 = Seq((1L, "a")).toDF("k", "v")
    val empty = t1.limit(0)
    val added = Snapshot.diff(empty, t1, Seq("k"), Seq("v")).collect()
    assert(added.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "added")))
    val removed = Snapshot.diff(t1, empty, Seq("k"), Seq("v")).collect()
    assert(removed.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "removed")))
  }

  test("PQ.train on a corpus smaller than k shrinks the codebook, never crashes") {
    val tiny = (0 until 3).map(i =>
      (i.toLong, Seq.tabulate(8)(d => (d + i + 1).toFloat))).toDF("vec_id", "embedding")
    val model = PQ.train(tiny, col("vec_id"), col("embedding"), m = 2, k = 16, iters = 1)
    assert(model.k <= 3 && model.centroids.forall(_.length == model.k))
    val codes = PQ.encode(tiny, col("vec_id"), col("embedding"), model)
      .select("codes").as[Seq[Int]].collect()
    assert(codes.forall(_.forall(c => c >= 0 && c < model.k)))
  }

  test("Spans.dupSpans on empty / null-text / short-doc corpora") {
    assert(Spans.dupSpans(noDocs, col("doc_id"), col("text")).count() == 0)
    val odd = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "one two")).toDF("doc_id", "text")
    val out = Spans.dupSpans(odd, col("doc_id"), col("text"), 5)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 0L, 0L, 0.0), (2L, 0L, 0L, 0.0), (3L, 0L, 0L, 0.0)))
  }

  test("Stratified samplers on empty and single-row inputs") {
    assert(Stratified.sampleSqrt(noDocs, col("doc_id"), col("text")).count() == 0)
    assert(Stratified.sampleSqrtPresampled(noDocs, col("doc_id"), col("text")).count() == 0)
    val one = Seq((7L, "g")).toDF("doc_id", "text")
    for (got <- Seq(Stratified.sampleSqrt(one, col("doc_id"), col("text")),
        Stratified.sampleSqrtPresampled(one, col("doc_id"), col("text")))) {
      assert(got.as[(Long, String, Long)].collect().toSeq == Seq((7L, "g", 1L)))
    }
  }

  test("Spans.removeDupSpans on empty / null-text / short-doc corpora") {
    assert(Spans.removeDupSpans(noDocs, col("doc_id"), col("text")).count() == 0)
    val odd = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "one two")).toDF("doc_id", "text")
    val out = Spans.removeDupSpans(odd, col("doc_id"), col("text"), 5)
      .as[(Long, Long, Long, Double, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 0L, 0L, 0.0, ""), (2L, 0L, 0L, 0.0, ""),
      (3L, 2L, 2L, 0.0, "one two")))
  }

  test("semDedup and fuzzyMatches on empty / degenerate inputs") {
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    // empty corpus: trainCoarse cannot seed — a clear error, not a hang
    intercept[RuntimeException] {
      Similarity.semDedup(noVecs, col("vec_id"), col("embedding"), 0.5, nCells = 2)
    }
    // single vector: survives, no pairs
    val one = Seq((3L, Array.tabulate(8)(_.toFloat + 1))).toDF("vec_id", "embedding")
    assert(Similarity.semDedup(one, col("vec_id"), col("embedding"), 0.5, nCells = 1)
      .select("vec_id").as[Long].collect().toSeq == Seq(3L))
    // fuzzy decontamination: empty eval flags nothing; empty train → empty
    assert(Contamination.fuzzyMatches(
      Seq((1L, "a b c d e")).toDF("doc_id", "text"), noDocs,
      col("doc_id"), col("text")).count() == 0)
    assert(Contamination.fuzzyMatches(noDocs,
      Seq((1L, "a b c d e")).toDF("doc_id", "text"),
      col("doc_id"), col("text")).count() == 0)
  }

  test("semanticMatches / PageRank / Classifier degenerate inputs") {
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("id", "v")
    val one = Seq((1L, Array(1.0f, 0.0f))).toDF("id", "v")
    // empty eval flags nothing (and keeps the 3-column schema);
    // empty train → empty; all-zero-norm eval behaves as empty
    assert(Contamination.semanticMatches(one, noVecs, col("id"), col("v"), 0.5).count() == 0)
    assert(Contamination.semanticMatches(noVecs, one, col("id"), col("v"), 0.5).count() == 0)
    val zeroEv = Seq((9L, Array(0.0f, 0.0f))).toDF("id", "v")
    val emptyOut = Contamination.semanticMatches(one, zeroEv, col("id"), col("v"), 0.5)
    assert(emptyOut.columns.toSeq == Seq("id", "eval_id", "cosine") && emptyOut.count() == 0)
    // classifier refuses an empty seed loudly instead of NaN verdicts
    val noDocs2 = Seq.empty[(Long, String)].toDF("id", "t")
    intercept[IllegalArgumentException] {
      graft.operators.Classifier.train(noDocs2,
        Seq((1L, "x")).toDF("id", "t"), col("id"), col("t"))
    }
    // token-less seeds train an empty vocab: every doc scores the prior
    val blank = Seq((1L, "")).toDF("id", "t")
    val m = graft.operators.Classifier.train(blank, blank, col("id"), col("t"))
    val s = graft.operators.Classifier.score(
        Seq((5L, "anything at all")).toDF("id", "t"), col("id"), col("t"), m)
      .as[(Long, Long, Double, Boolean)].head()
    assert(s == ((5L, 0L, 0.0, false)))
  }

  test("ReAgg on empty input: zero rows at every level, like native rollup") {
    // grouped aggregation over an empty input yields no groups at ANY
    // grouping set — native rollup emits nothing, not even a grand
    // total (unlike a global agg); ReAgg must match
    val empty = Seq.empty[(String, Double)].toDF("k", "v")
    val got = ReAgg.rollup(empty, Seq("k"), Seq(ReAgg.countAll("n")))
    val native = empty.rollup(col("k")).agg(count(lit(1)).as("n"))
    assert(got.count() == 0 && native.count() == 0)
    // single-row input: finest + total, both n=1
    val one = Seq(("a", 1.0)).toDF("k", "v")
    val rows = ReAgg.rollup(one, Seq("k"), Seq(ReAgg.countAll("n")))
      .collect().map(r => (Option(r.getString(0)), r.getLong(1))).toSet
    assert(rows == Set((Some("a"), 1L), (None, 1L)))
  }

  test("Incremental.gate: empty store, empty batch, all-short batch") {
    val (eb, es) = Incremental.signatures(noDocs, col("doc_id"), col("text"))
    // empty batch against empty store
    val (s0, _, _) = Incremental.gate(eb, es, noDocs, col("doc_id"), col("text"))
    assert(s0.count() == 0)
    // short docs can never match: all survive, bands stay empty
    val shorts = Seq((1L, "hi"), (2L, "yo")).toDF("doc_id", "text")
    val (s1, bands, sets) = Incremental.gate(eb, es, shorts, col("doc_id"), col("text"))
    assert(s1.as[Long].collect().toSet == Set(1L, 2L))
    assert(bands.count() == 0)
    assert(sets.as[(Long, Seq[String])].collect().forall(_._2.isEmpty))
    // above 1 even identical docs would not match, which the collapse
    // assumes; NaN matches nothing. Both are refused, by the gate and
    // by the D10 sink before its stream starts
    for (t <- Seq(1.5, Double.NaN)) {
      intercept[IllegalArgumentException] {
        Incremental.gate(eb, es, shorts, col("doc_id"), col("text"), threshold = t)
      }
      intercept[IllegalArgumentException] {
        graft.streaming.EventStream.nearDupGateSink(noDocs, "doc_id", col("text"),
          "unused-store", "unused-out", "lang", "unused-checkpoint", threshold = t)
      }
    }
  }
}
