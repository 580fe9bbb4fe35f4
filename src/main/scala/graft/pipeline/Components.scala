package graft.pipeline

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Connected-component resolution over near-duplicate pair output — the
  * step that turns "A≈B, B≈C" edges into dedup clusters with one
  * canonical keeper each. Pair emission ([[Dedup.minHashNearDupPairs]],
  * [[Dedup.simHashNearDupPairsFromFingerprints]],
  * [[TextAnalysis.rollingOverlapPairs]]) is only half of corpus dedup:
  * without transitive closure, dropping "the second member of every pair"
  * both over-deletes (B and C each lose against A independently — fine)
  * and under-deletes (B≈C pairs where neither compares against the
  * already-kept A survive as a duplicate pair). The component
  * representative is the well-defined keeper.
  *
  * Algorithm: alternating min-label propagation and pointer doubling
  * (path halving), the classic MapReduce connected-components recipe
  * (Kiveris et al., "Connected Components in MapReduce and Beyond" —
  * large-star/small-star; plain propagation alone needs O(diameter)
  * rounds, the doubling step cuts chains in half each round so
  * convergence is O(log diameter)). Each round is bounded work and never
  * an all-pairs product; the label frame never exceeds one row per node
  * that appears in an edge (docs with no near-dup pair never enter the
  * graph at all, which at 100 TB is almost all of them: the graph this
  * runs on is the PAIR set, orders of magnitude smaller than the corpus).
  *
  * EXECUTION SHAPE (optimization round 16): the loop runs on pair RDDs
  * under ONE `HashPartitioner` shared by the adjacency list and every
  * round's label frame — sized from the upstream plan's own partitioning,
  * so it scales with the edge volume, not a constant. Keying everything
  * the same way makes the propagate lookup (adjacency ⋈ labels) and the
  * doubling lookup (rep ⋈ labels) NARROW co-partitioned joins: each round
  * shuffles only the new label messages (three small exchanges), and the
  * whole round — propagate, double, convergence aggregate — is ONE Spark
  * job. The previous DataFrame form of the same algebra re-planned every
  * round under AQE, which executes each exchange as its own job: a
  * resolve query ran 50+ scheduler round-trips on a label frame of a few
  * hundred rows (measured: p_d12 53 jobs / 3.8 s warm at sf0.1, almost
  * all scheduling floor — see OPTIMIZATION_r16.md). The RDD loop is the
  * guide §2.4 move ("two operations keyed the same way share one
  * exchange") applied to every round at once.
  *
  * Driver-side control flow is intentional and scale-safe: the loop runs
  * O(log diameter) times (dedup clusters are shallow — a handful of
  * rounds), each round persists its label RDD so lineage never
  * re-executes prior rounds, and convergence is decided by a per-round
  * change-count accumulator observed from the same action that
  * materializes the round (zero observed changes is a sound fixpoint
  * certificate — see the loop comment), so no extra aggregate job runs.
  * `checkpointDir` picks the materialization: on a real
  * cluster pass a reliable (HDFS/object-store) directory and each round
  * commits through `RDD.checkpoint`; unset, the local[] default keeps
  * rounds as persisted blocks — same shape, a CONFIG choice, not a code
  * edit.
  */
object Components {

  /** Connected components of the undirected graph given by an edge list:
    * one row per node, `(id, rep)`, where `rep` is the smallest node id
    * in the node's component. Edge direction and duplicate edges are
    * irrelevant (the edge list is symmetrized and the algebra is min).
    *
    * Throws if `maxIter` rounds pass without reaching the fixpoint:
    * partially-merged labels would silently under-deduplicate downstream
    * ([[dedupByPairs]] would keep documents of an unresolved cluster).
    * Pointer doubling converges in O(log diameter), so the default bound
    * covers any real graph; hitting it means the bound was mis-set. */
  def connectedComponents(edges: DataFrame, aCol: String = "a_id",
      bCol: String = "b_id", maxIter: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    // fail loudly on non-integral id columns: a silent cast of e.g.
    // string digests would null every edge and "resolve" zero clusters
    for (c <- Seq(aCol, bCol)) {
      val dt = edges.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"edge column '$c' must be an integral id type, got ${dt.catalogString}")
    }
    val spark = edges.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    val reliable = checkpointDir.isDefined

    val raw: RDD[(Long, Long)] = edges
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)
      .rdd.map(r => (r.getLong(0), r.getLong(1)))

    // One partitioner for the adjacency list and every round's labels —
    // sized from the upstream plan's own output partitioning (AQE has
    // already matched that to the edge volume), never a constant.
    val part = new HashPartitioner(math.max(raw.getNumPartitions, 1))

    // Persist each round so lineage never re-executes prior rounds, and
    // where safe TRUNCATE its lineage: with a reliable dir via
    // RDD.checkpoint; in single-JVM local[] mode via localCheckpoint.
    // Persisting alone keeps the full dependency DAG alive — measured
    // (r17, a per-job trace of p_d23 at sf0.1): each round's job dragged every
    // prior round's stages through the DAGScheduler as "skipped"
    // stages, growing per round to a 20+ stage graph and costing
    // 160–210 ms per 6-task round against a ~60 ms floor; truncation
    // makes every round's DAG constant-depth. localCheckpoint is gated
    // on `isLocal` deliberately: locally-checkpointed partitions live
    // only on the executor that computed them, so on a MULTI-EXECUTOR
    // master an executor loss FAILS the job instead of recomputing
    // (the documented localCheckpoint trade, acceptable only where no
    // executor can die: single-JVM local[]) — without a reliable dir
    // the pre-r17 plain persist is the safe distributed default, and a
    // real cluster passes `checkpointDir` for reliable truncation.
    val canTruncateLocally = spark.sparkContext.isLocal
    def materialize(rdd: RDD[(Long, Long)]): RDD[(Long, Long)] = {
      if (reliable) {
        rdd.persist(StorageLevel.MEMORY_AND_DISK)
        rdd.checkpoint()
      } else if (canTruncateLocally) {
        rdd.localCheckpoint()
      } else {
        rdd.persist(StorageLevel.MEMORY_AND_DISK)
      }
      rdd
    }

    // symmetrized adjacency, hash-partitioned once and reused (narrow)
    // by the propagate join of every round
    val adj = materialize(
      raw.flatMap { case (u, v) => Iterator((u, v), (v, u)) }
        .partitionBy(part))

    // initial label = min(id, min neighbour): the first propagation
    // round folded into initialization (every node appears as a key in
    // the symmetrized list, so this is also the node enumeration).
    // reduceByKey on adj's own partitioner is map-side combined and
    // shuffle-free.
    var labels = materialize(
      adj.reduceByKey(part, math.min(_, _))
        .mapPartitions(_.map { case (id, mn) => (id, math.min(id, mn)) },
          preservesPartitioning = true))

    // Convergence by CHANGE COUNT, observed through one accumulator per
    // round, so each round is exactly one job and no pre-loop action is
    // needed (r16 opt: the previous exact-label-mass comparison spent an
    // extra aggregate job before the loop). Every label update under the
    // min algebra strictly DECREASES the label, so "zero changes" and
    // "mass stopped decreasing" name the same fixpoint. Accumulator
    // semantics are at-least-once under task retry/recompute (the
    // propagate map also re-evaluates once as the doubling join's
    // lookup side): a spurious re-add can only OVER-count, which buys
    // one extra already-converged round — while an observed zero is
    // sound, because any truly-changed label adds ≥ 1 from every
    // successful attempt of its task.
    var done = false
    var iter = 0
    while (!done && iter < maxIter) {
      val changed = spark.sparkContext.longAccumulator(s"cc-changed-$iter")
      // 1. min over self and neighbours: labels reach one EDGE hop per
      //    propagate. adj and labels share `part`, so the lookup join is
      //    narrow; only the per-neighbour label messages shuffle
      //    (map-side combined).
      def propagate(cur: RDD[(Long, Long)]): RDD[(Long, Long)] = {
        val msgs = adj.join(cur, part)
          .map { case (_, (v, rep)) => (v, rep) }
          .reduceByKey(part, math.min(_, _))
        cur.cogroup(msgs, part).mapPartitions(_.map {
          case (id, (own, offered)) =>
            var ownLbl = Long.MaxValue
            val it1 = own.iterator
            while (it1.hasNext) { val x = it1.next(); if (x < ownLbl) ownLbl = x }
            var best = ownLbl
            val it2 = offered.iterator
            while (it2.hasNext) { val x = it2.next(); if (x < best) best = x }
            if (best != ownLbl) changed.add(1L)
            (id, best)
        }, preservesPartitioning = true)
      }
      // 2. …then pointer doubling halves every chain: rep ← rep(rep).
      //    rep values are always node ids (inductively: min of ids), so
      //    the lookup side always matches; the left-outer fallback is
      //    belt-and-braces.
      def doubleOnce(cur: RDD[(Long, Long)]): RDD[(Long, Long)] =
        cur.map { case (id, rep) => (rep, id) }
          .partitionBy(part)
          .leftOuterJoin(cur, part) // narrow: both sides keyed on `part`
          .map { case (rep, (id, rrep)) =>
            val nl = rrep.getOrElse(rep)
            if (nl != rep) changed.add(1L)
            (id, nl)
          }
          .partitionBy(part)
      // One propagate + one doubling per round. (Measured this round:
      // packing TWO cycles into each round cut the image/struct resolve
      // graphs from 6 rounds to 4, but each extra propagate re-walks the
      // full adjacency, and the measured wall moved +0.1–0.35 s — the
      // per-round work grows faster than the barrier count shrinks at
      // these graph sizes, so the single cycle stays.) The propagate
      // output is persisted lazily because the doubling join reads it
      // twice; the round's single action materializes everything.
      val m = propagate(labels).persist(StorageLevel.MEMORY_AND_DISK)
      val next = materialize(doubleOnce(m))
      // one action materializes the round AND decides convergence
      next.foreach(_ => ())
      m.unpersist(blocking = false)
      done = changed.value == 0L
      if (sys.env.contains("GRAFT_CC_TRACE"))
        System.err.println(s"CCTRACE round=$iter changed=${changed.value}")
      labels.unpersist(blocking = false)
      labels = next
      iter += 1
    }
    if (!done) throw new IllegalStateException(
      s"connected components did not converge within $maxIter rounds " +
        "(labels still changing); raise maxIter — returning " +
        "partially-merged labels would silently under-deduplicate")
    adj.unpersist(blocking = false)
    spark.createDataFrame(
      labels.map { case (id, rep) => Row(id, rep) },
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("rep", LongType, nullable = false))))
  }

  /** Dedup clusters from near-dup pairs: `(doc_id, rep_id)` for every
    * document that belongs to a cluster (`rep_id` = smallest member).
    * Documents with no pair membership are absent — they are their own
    * trivial cluster and need no row. */
  def nearDupClusters(pairs: DataFrame, aCol: String = "a_id",
      bCol: String = "b_id",
      checkpointDir: Option[String] = None): DataFrame =
    connectedComponents(pairs, aCol, bCol, checkpointDir = checkpointDir)
      .select(col("id").as("doc_id"), col("rep").as("rep_id"))

  /** Keep one document per near-dup cluster: drops every clustered doc
    * except its component-minimum representative; docs outside any pair
    * pass through untouched. The victim list is one anti-join key column
    * — no hint, AQE broadcasts it when (as is typical) it is small
    * relative to the corpus; the corpus text never shuffles. */
  def dedupByPairs(corpus: DataFrame, pairs: DataFrame, idCol: String,
      aCol: String = "a_id", bCol: String = "b_id",
      checkpointDir: Option[String] = None): DataFrame = {
    val victims = nearDupClusters(pairs, aCol, bCol, checkpointDir)
      .filter(col("doc_id") =!= col("rep_id"))
      .select(col("doc_id").as("__victim"))
    corpus.join(victims, corpus(idCol) === col("__victim"), "left_anti")
  }
}
