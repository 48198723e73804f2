package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}

/** Connected components over a near-dup pair graph (SURVEY C22) —
  * the step that turns pairwise matches into DECISIONS: every doc in
  * a component keeps exactly one canonical representative (the min
  * id), everything else is a duplicate of it. Without this, A~B and
  * B~C can both drop their "right side" and lose C's content even
  * though A survives.
  *
  * Iterative min-label propagation with POINTER DOUBLING, all in
  * DataFrames. Two scale decisions:
  *
  *  1. Only EDGE-ENDPOINT nodes iterate. A near-dup graph touches a
  *     tiny fraction of a 100 TB corpus; shuffling every node's label
  *     every round would make each round O(corpus) instead of
  *     O(matches). Non-endpoint nodes are singletons by definition
  *     and join back (broadcast-sized labels vs the corpus) once at
  *     the end.
  *  2. Each round takes the min over (own label, neighbors' labels,
  *     label-of-label). The extra label-of-label self-join is the
  *     pointer-doubling hop that halves the remaining distance to the
  *     component root each round — O(log diameter) rounds instead of
  *     O(diameter), the same asymptotics as the large-star/small-star
  *     alternation but with one fewer shuffle per round.
  *
  * Convergence is checked with a cheap scan over the round's eager
  * checkpoint (only a boolean reaches the driver); the checkpoint
  * also truncates lineage so round N never replays rounds 1..N-1.
  * At a stable fixpoint labels are constant across every edge and
  * equal to the component's min id (labels only ever decrease and
  * start at the node's own id).
  */
object Components {

  /** (id, comp) for every node in `nodes`; comp = min reachable id
    * via `edges` (undirected pairs). Nodes absent from every edge are
    * their own singleton component.
    *
    * Graphs with ≤ `driverLimit` edge rows are solved with a driver
    * union-find instead of the distributed iteration: a near-dup
    * graph touches a tiny fraction of the corpus, and when the edge
    * list is MODEL-SIZED (the same class as a collected quantizer or
    * bloom filter) paying O(log diameter) rounds of whole-job
    * overhead to label a few thousand endpoints is pure waste — at
    * sf0.1 the iteration was ~1 s of scheduling to propagate 25
    * edges. The distributed path is unchanged above the limit, and
    * both produce identical labels (the specs and the recursive-CTE
    * oracle don't know which ran). */
  def connected(nodes: DataFrame, id: Column, edges: DataFrame,
                a: Column, b: Column, maxIter: Int = 20,
                driverLimit: Long = 1L << 20): DataFrame = {
    // materialize the (match-sized, not corpus-sized) edge list ONCE —
    // the iteration runs one action per round, and without this every
    // round would replay the entire upstream pair-generation pipeline
    val sym = edges.select(a.as("src"), b.as("dst"))
      .unionByName(edges.select(b.as("src"), a.as("dst")))
      .localCheckpoint(true)
    // the fast path union-finds over LONGS, so it only fires for
    // integral id types (where cast→long is lossless and never null);
    // string/decimal/etc ids always take the distributed iteration,
    // which is generic over any orderable type — the two paths must
    // never FORK ON BEHAVIOR, only on cost
    val idType = sym.schema("src").dataType
    val integralId = idType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (integralId && sym.count() <= driverLimit)
      return smallGraph(nodes, id, sym, idType)
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val nbrMin = sym.join(labels, col("src") === col("id"))
        .groupBy(col("dst")).agg(min(col("comp")).as("nc"))
      val hop = labels.select(col("id").as("pid"), col("comp").as("pc"))
      val prop = least(coalesce(col("nc"), col("comp")), coalesce(col("pc"), col("comp")))
      val next = labels
        .join(nbrMin, col("id") === col("dst"), "left")
        .join(hop, col("comp") === col("pid"), "left")
        .select(col("id"), least(col("comp"), prop).as("comp"),
          (prop < col("comp")).as("chg"))
      val step = next.localCheckpoint(true)
      converged = step.filter(col("chg")).isEmpty
      labels = step.select(col("id"), col("comp"))
      iter += 1
    }
    // partially-propagated labels are silently WRONG (one component
    // reported as several) — refuse rather than return them
    require(converged,
      s"Components.connected: not converged after $maxIter rounds " +
        "(pathological graph — raise maxIter)")
    nodes.select(id.as("id")).distinct()
      .join(labels.withColumnRenamed("comp", "__c"), Seq("id"), "left")
      .select(col("id"), coalesce(col("__c"), col("id")).as("comp"))
  }

  /** Exact min-label components for a model-sized edge list: driver
    * union-find (path halving + min-id tracking), labels joined back
    * as a broadcast-sized frame. Only called for integral id types;
    * labels are cast back to the edge id type so the output schema is
    * identical to the distributed path's. */
  private def smallGraph(nodes: DataFrame, id: Column, sym: DataFrame,
                         idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val es = sym.select(col("src").cast("long"), col("dst").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) {
        val p = parent(r)
        parent(r) = parent.getOrElse(p, p) // path halving
        r = parent(r)
      }
      r
    }
    es.foreach { case (s, d) =>
      parent.getOrElseUpdate(s, s)
      parent.getOrElseUpdate(d, d)
      val (rs, rd) = (find(s), find(d))
      // union by MIN id: the root is always the component's min,
      // so the final find IS the min-label contract
      if (rs < rd) parent(rd) = rs else if (rd < rs) parent(rs) = rd
    }
    val labels = parent.keys.toSeq.map(n => (n, find(n))).toDF("id", "comp")
      // cast back to the edge id type: the distributed path's labels
      // carry this type, and coalesce below must coerce identically
      .select(col("id").cast(idType).as("id"), col("comp").cast(idType).as("__c"))
    nodes.select(id.as("id")).distinct()
      .join(broadcast(labels), Seq("id"), "left")
      .select(col("id"), coalesce(col("__c"), col("id")).as("comp"))
  }

  /** Quality-aware canonical selection (SURVEY C38): `connected`
    * labels every doc with its cluster, then each cluster keeps the
    * doc MAXIMIZING `score` (smallest id on ties — a total order, so
    * the keeper is deterministic) instead of C22's min-id rule.
    * Returns (id, comp, keep 1/0).
    *
    * This is the decision real pipelines want: near-dup clusters mix
    * clean originals with truncated scrapes and boilerplate-wrapped
    * copies, and keep-min-id throws away the best copy whenever a
    * worse one crawled first. Compose with any per-doc score — C9's
    * quality, C28's LM perplexity (negated), length.
    *
    * Scale: one extra corpus-sized hash exchange on the cluster label
    * for the ranking window; window fan-in is bounded by cluster
    * size, never corpus size (singletons — almost everything — are
    * 1-row partitions of that window). The iteration inside
    * `connected` still touches edge endpoints only. */
  def canonicalBy(nodes: DataFrame, id: Column, score: Column, edges: DataFrame,
                  a: Column, b: Column, maxIter: Int = 20): DataFrame = {
    val comps = connected(nodes.select(id.as("id")), col("id"), edges, a, b, maxIter)
    val w = Window.partitionBy(col("comp")).orderBy(col("__s").desc, col("id"))
    comps.join(nodes.select(id.as("id"), score.as("__s")), Seq("id"))
      .withColumn("keep", when(row_number().over(w) === 1, 1L).otherwise(0L))
      .select(col("id"), col("comp"), col("keep"))
  }
}
