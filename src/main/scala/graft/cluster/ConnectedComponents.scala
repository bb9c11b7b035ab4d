package graft.cluster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative connected components over DataFrames — min-label
  * propagation, the scalable replacement for the reference's driver-side
  * union-find-ish cluster bookkeeping
  * (src/kg_gen/steps/_3_cluster_graph.py:259-261, _process_batch) and the
  * BFS used by the visualizer (src/kg_gen/utils/visualize_kg.py:144-169).
  *
  * Design for scale (SURVEY.md §4):
  *   - each iteration is one shuffle (groupBy node, min(label)); partial
  *     aggregation (map-side combine) absorbs hub-node skew, so hot keys
  *     never concentrate raw rows on one reducer;
  *   - every iteration is persisted and the previous one unpersisted:
  *     cache substitution keeps the iterated plan shallow (no lineage
  *     blowup) without retaining every round's blocks;
  *   - convergence detected by an aggregate checksum whose action ALSO
  *     materializes the round's checkpoint — one action per round, plus
  *     one for the seed labels — with an O(diameter) iteration bound;
  *     surface-variant clusters have single-digit diameters, so the loop
  *     is short in practice. An action is one job only without AQE:
  *     under AQE (on in every session this library builds) each shuffle
  *     exchange and broadcast of the action's plan runs as its own job
  *     before the result job, so a 2-round run over a 24-node,
  *     one-component graph runs 13 jobs, and a run over an empty edge
  *     set still runs several.
  */
object ConnectedComponents {

  /** Hub-entity skew in the propagation join (all und rows with a hub
    * src land in one sort-merge partition) is handled by AQE's skew-join
    * split — the engine-side equivalent of salting (it splits the skewed
    * partition and replicates the matching build rows), applied only
    * when a partition is actually skewed. AQE + skew-join are REQUIRED
    * session configs (KgGenJob.session and Bench.session set them; both
    * default ON in Spark 4) — round 2 pinned them here via mutable
    * session conf with save/restore, but concurrent CC runs from two
    * driver threads (ClusterGraph runs entity and predicate clustering
    * in parallel) can interleave set/restore and flip the conf mid-run
    * for the sibling, so the mutation is gone (round-2 advice).
    *
    * @param edges columns (src, dst) — undirected semantics
    * @param nodes one column `node`; isolated nodes keep their own label
    * @param saltFactor explicit salted-key handling for hub-entity skew
    *   in the propagation join (the north-rule mechanism): when > 1, the
    *   bounded `labels` side is replicated `saltFactor`× with a salt
    *   column and each edge row picks the deterministic salt
    *   `xxhash64(dst) % saltFactor`, so a hub node's millions of edge
    *   rows spread over `saltFactor` reducers instead of one. Results
    *   are provably identical (every edge row still meets exactly one
    *   replica of its src label). Default 1 = unsalted: AQE's skew-join
    *   split (enabled in every session this library builds) handles the
    *   same skew adaptively without the constant-factor replication
    *   cost, so explicit salt is for clusters where AQE is unavailable
    *   or pinned off.
    * @return (node, component) where component = min node label reachable
    */
  def run(edges: DataFrame, nodes: DataFrame, maxIterations: Int = 20, saltFactor: Int = 1): DataFrame =
    runInner(edges, nodes, maxIterations, saltFactor)

  private def runInner(edges: DataFrame, nodes: DataFrame, maxIterations: Int, saltFactor: Int): DataFrame = {
    val und = edges
      .select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist()

    // lazy checkpoint (not persist): cache substitution only happens
    // at execution, AFTER analysis — a persisted loop still re-analyzes a
    // plan that embeds the previous round's plan twice (join + union), so
    // driver analysis cost and plan memory double per iteration.
    // Checkpointing TRUNCATES the logical plan at materialization, so
    // every round's plan has constant depth; the checksum action below is
    // the single job that materializes it. Materialization strategy
    // (round-2 advice): when the caller set a RELIABLE checkpoint dir
    // (spark.sparkContext.setCheckpointDir — the right choice on a real
    // multi-executor cluster, where localCheckpoint's unreplicated
    // executor-local blocks make the job unrecoverable on executor
    // loss), use reliable checkpoints; otherwise (local/bench)
    // localCheckpoint. Superseded rounds are released by the
    // ContextCleaner when the old Dataset goes out of scope (the loop
    // holds exactly one live round at a time).
    val reliable = nodes.sparkSession.sparkContext.getCheckpointDir.isDefined
    def materialize(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(false) else df.localCheckpoint(false)
    var labels = materialize(
      nodes
        .select(col("node"))
        .distinct()
        .withColumn("label", col("node"))
    )

    // order-independent, overflow-free label fingerprint; the action also
    // materializes the round's checkpoint — ONE job per iteration does
    // both the propagation step and the convergence check
    def checksum(df: DataFrame): Long = {
      val r = df.agg(bit_xor(xxhash64(col("node"), col("label")))).head
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    var converged = false
    var iter = 0
    var prevSum = checksum(labels)
    while (!converged && iter < maxIterations) {
      val nbr =
        if (saltFactor > 1) {
          // explicit salting: replicate each label row saltFactor times;
          // an edge row joins the single replica selected by a
          // deterministic hash of its dst, splitting any hub src's rows
          // across saltFactor reducers
          val salted = labels.withColumn(
            "salt",
            explode(array((0 until saltFactor).map(i => lit(i)): _*))
          )
          val saltedUnd = und.withColumn("esalt", pmod(xxhash64(col("dst")), lit(saltFactor)).cast("int"))
          saltedUnd
            .join(salted, saltedUnd("src") === salted("node") && saltedUnd("esalt") === salted("salt"))
            .select(saltedUnd("dst").as("node"), col("label"))
        } else {
          und
            .join(labels, und("src") === labels("node"))
            .select(und("dst").as("node"), col("label"))
        }
      val next = materialize(
        nbr
          .union(labels.select("node", "label"))
          .groupBy("node")
          .agg(min("label").as("label"))
      )
      val sumNow = checksum(next)
      converged = sumNow == prevSum
      prevSum = sumNow
      labels = next
      iter += 1
    }
    und.unpersist(false)
    // a capped-out run has NOT reached the fixpoint: labels are still
    // mid-propagation and one component can surface as several — the
    // silent-split result would diverge from the exact driver-side
    // union-find twin. Fail loudly instead; the caller raises the bound
    // (diameter-shaped: surface-variant clusters are single-digit).
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge within $maxIterations iterations; " +
          "raise maxIterations (bound is O(graph diameter))"
      )
    labels.withColumnRenamed("label", "component")
  }

  /** Incremental component maintenance for a delta edge set against a
    * committed assignment — the recrawl companion of
    * [[graft.analytics.GraphDiff]]: when a new crawl adds edges to an
    * already-canonicalized graph, update (node, component) without
    * re-running the fixpoint over the base edges.
    *
    * Correctness: contracting every base component to its label
    * preserves connectivity (standard quotient-graph argument), and
    * because each label IS the minimum member of its component, the min
    * label of a merged set of contracted nodes equals the global min
    * over all member nodes — so the result is row-identical to a
    * from-scratch [[run]] over (base edges ∪ delta edges). The
    * `kg_cc_incremental` driver query proves exactly that: its oracle
    * recomputes components from scratch and the hash must match.
    *
    * Scale shape — O(delta + affected), never O(base):
    *   - delta endpoints map through the assignment with two hash joins
    *     (the only contact with base state, a bucketed snapshot lookup
    *     at 100 TB — base EDGES are never read);
    *   - the contracted edges are materialized once; when none are
    *     left (every delta edge fell inside one existing component, the
    *     common recrawl case) the fixpoint is skipped altogether,
    *     otherwise it runs on the contracted graph, whose size is
    *     bounded by the delta edge count, not the corpus;
    *   - delta endpoints the base has never seen are flagged during the
    *     contraction, so a node whose only edges are self-loops is kept
    *     and the delta-only rows are picked without another base join;
    *   - untouched assignments pass through a single left join against
    *     the relabel map (small by the same bound — AQE broadcasts it).
    *
    * @param baseAssign (node, component) — a committed [[run]] output:
    *   every component label must be the min member node (what [[run]]
    *   guarantees); rows are unique per node
    * @param deltaEdges (src, dst) — undirected semantics, new edges
    *   only (re-sending a base edge is harmless: it contracts to a
    *   self-loop and drops out)
    * @return (node, component) over base nodes ∪ delta endpoints
    */
  def incremental(
      baseAssign: DataFrame,
      deltaEdges: DataFrame,
      maxIterations: Int = 20
  ): DataFrame = {
    val bySrc = baseAssign.select(col("node").as("src"), col("component").as("srcLabel"))
    val byDst = baseAssign.select(col("node").as("dst"), col("component").as("dstLabel"))
    // contract: an endpoint known to the base becomes its component
    // label; an unseen endpoint stays itself and is flagged new. Edges
    // falling inside one existing component become self-loops; they stay
    // in this frame only to carry their new endpoints (a delta-only node
    // whose only edges are self-loops is still a node — a from-scratch
    // run keeps it) and never reach the fixpoint. Materialized once: the
    // emptiness check, the fixpoint and the new-node set all read it. A
    // contracted value's flag is a function of the value (base labels
    // are base nodes), so the distinct is per (src, dst).
    val mapped = graft.util.Materialize.stage(
      deltaEdges
        .select(col("src"), col("dst"))
        .join(bySrc, Seq("src"), "left")
        .join(byDst, Seq("dst"), "left")
        .select(
          coalesce(col("srcLabel"), col("src")).as("src"),
          coalesce(col("dstLabel"), col("dst")).as("dst"),
          col("srcLabel").isNull.as("srcNew"),
          col("dstLabel").isNull.as("dstNew")
        )
        .distinct()
    )
    val contracted = mapped.where(col("src") =!= col("dst")).select("src", "dst")
    val deltaOnly = mapped
      .where(col("srcNew")).select(col("src").as("node"))
      .union(mapped.where(col("dstNew")).select(col("dst").as("node")))
      .distinct()
    // every delta edge fell inside one component (the common recrawl
    // case): no component merges, each delta-only node is its own
    if (contracted.isEmpty)
      baseAssign.select("node", "component").union(deltaOnly.withColumn("component", col("node")))
    else {
      val touched = contracted
        .select(col("src").as("node"))
        .union(contracted.select(col("dst").as("node")))
        .union(deltaOnly)
        .distinct()
      // (old label | delta-only node) -> new component label
      val relabel = run(contracted, touched, maxIterations)
      val relabelMap = relabel.select(col("node").as("old"), col("component").as("newc"))
      val updatedBase = baseAssign
        .join(relabelMap, col("component") === col("old"), "left")
        .select(col("node"), coalesce(col("newc"), col("component")).as("component"))
      updatedBase.union(relabel.join(deltaOnly, Seq("node"), "left_semi"))
    }
  }
}
