"""Distributed connected components over a candidate-pair graph.

The near-duplicate sweeps (MinHash LSH ``text/dedup.py``, exact Hamming
``functions/hamming.py``, embedding bands ``sim/ann.py``) all emit verified
*pairs*. A training-data pipeline needs *clusters*: one canonical document
kept per connected component of the pair graph, the rest dropped. The
reference engine has no analog (NannyML stops at per-chunk metrics); this is
one of the beyond-reference training-data operators (SURVEY.md §2.12).

Algorithm: hash-min label propagation **with per-round pointer jumping**
(shortcutting), the DataFrame re-expression of HASH-TO-MIN from Rastogi et
al., "Finding Connected Components in Map-Reduce in Logarithmic Rounds"
(ICDE 2013). Each round every node lowers its label to the minimum of its
own label and its neighbours' labels (one shuffle join + one groupBy over a
STATIC edge set), then labels are shortcut through themselves
(``comp := comp(comp)``, one self-join). Plain neighbour propagation alone
converges in O(diameter) rounds — an adversarial path graph would need one
round per hop — while the shortcut step halves every label chain each round,
giving O(log n) rounds on any topology. Near-dup graphs (dense clusters
around a hub) typically converge in 2–4 rounds.

Scale notes for the 1000-executor case:
- The edge set is never rewritten, so each round costs exactly three
  shuffles on the same id key (msgs join, groupBy min, shortcut join) — AQE
  coalesces them, and no round materializes anything wider than
  ``(id, comp)`` longs.
- No ``collect_list`` of neighbourhoods: a 10^8-degree boilerplate hub (the
  classic web-corpus failure) costs 10^8 *rows* of messages spread across
  partitions, not one 10^8-element aggregation buffer on one executor.
- Iterative plans grow linearly in lineage; every round's label frame is
  ``localCheckpoint``-ed (eager) to truncate it. On a real cluster with
  executor churn prefer a reliable ``spark.sparkContext.setCheckpointDir``
  and pass ``use_local_checkpoint=False``.
- Convergence is a single co-partitioned changed-count per round (join on
  id), not a full frame comparison.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_validate.functions.local import local_frame


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    use_local_checkpoint: bool = True,
    stats: Optional[dict] = None,
    small_graph_edges: int = 500_000,
    driver_mem_budget: int = 128 * 1024 * 1024,
) -> DataFrame:
    """``(id, component)`` for every node appearing in ``pairs``, where
    ``component`` is the minimum node id reachable from ``id`` — a
    deterministic, order-independent cluster label (min over a set).

    ``pairs`` is an undirected edge list; duplicate and self edges are
    tolerated. Nodes may be any orderable type (long doc ids, string image
    ids) — ``min`` on strings clusters on lexicographic order, which is
    still deterministic. Isolated nodes never appear in ``pairs`` and so not
    in the result; callers left-join and ``coalesce`` to the node's own id.

    Raises ``RuntimeError`` if labels have not stabilized after
    ``max_iter`` rounds (log₂ of the longest path; 25 covers > 10^7-node
    chains) rather than returning a silently-wrong partial clustering.

    Graphs at or below ``small_graph_edges`` distinct edges run a
    driver-side union-find instead (the ≤5M single-task sort switch
    convention, applied to graphs): one collect + one createDataFrame
    replaces ~4 Spark jobs PER ROUND, which dominates wall time on the
    sparse pair graphs near-dup sweeps actually produce. The driver path is
    additionally gated on an ESTIMATED byte budget (``driver_mem_budget``,
    default 128 MB) computed from the measured id widths plus per-edge
    Python object overhead — long-keyed graphs fit comfortably at 500k
    edges, but wide string fingerprints (e.g. 40-char concat hashes) cost
    several hundred bytes per edge as Python objects, and a small-driver
    deployment must fall back to the distributed path rather than OOM.
    Larger graphs take the distributed path unchanged. Pass
    ``small_graph_edges=0`` to force the distributed algorithm (the
    log-round tests do). Python and Spark order
    ids identically for longs and strings (UTF-8 binary order == code-point
    order), so both paths produce the same min-reachable labels.

    ``stats``, when passed a dict, receives ``{"rounds": n, "mode": m}`` —
    used by tests to pin the logarithmic round count (``rounds`` is 0 in
    driver mode).
    """
    # materialize the pair DAG ONCE before the symmetrizing union — the two
    # union branches would otherwise each recompute the caller's (often
    # expensive: LSH + verify) pair plan from scratch
    p = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    p = p.localCheckpoint(eager=True) if use_local_checkpoint else p.persist()
    edges = (
        p.union(p.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    edges = edges.localCheckpoint(eager=True) if use_local_checkpoint else edges.persist()

    # one job: edge count + total id bytes (edges are materialized above).
    # Fixed-width ids charge 8 bytes; strings their measured length.
    def _w(c: str) -> F.Column:
        dt = dict(edges.dtypes)[c]
        return F.length(F.col(c)) if dt == "string" else F.lit(8)

    _row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(_w("u") + _w("v")), F.lit(0)).alias("id_bytes"),
    ).first()
    n_edges = _row["n"]
    # ~180 B/edge of Python overhead (two boxed ids + dict entries in the
    # union-find) on top of the raw id bytes
    est_driver_bytes = int(_row["id_bytes"]) + n_edges * 180
    if n_edges <= small_graph_edges and est_driver_bytes <= driver_mem_budget:
        if stats is not None:
            stats["rounds"] = 0
            stats["mode"] = "driver"
        spark = pairs.sparkSession
        schema = edges.select(
            F.col("u").alias("id"), F.col("u").alias("comp")
        ).schema
        if n_edges == 0:
            if not use_local_checkpoint:
                p.unpersist(blocking=False)
                edges.unpersist(blocking=False)
            return local_frame(spark, [], schema)
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for r in edges.collect():
            u, v = r["u"], r["v"]
            for nd in (u, v):
                if nd not in parent:
                    parent[nd] = nd
            ru, rv = find(u), find(v)
            if ru != rv:
                lo, hi = (ru, rv) if ru < rv else (rv, ru)
                parent[hi] = lo  # union by min keeps roots minimal
        if not use_local_checkpoint:
            p.unpersist(blocking=False)
            edges.unpersist(blocking=False)
        return local_frame(spark, [(x, find(x)) for x in parent], schema)

    labels = edges.select("u").distinct().select(F.col("u").alias("id"), F.col("u").alias("comp"))
    labels = labels.localCheckpoint(eager=True) if use_local_checkpoint else labels.persist()

    rounds = 0
    for rounds in range(1, max_iter + 1):
        # 1. neighbour propagation: comp(v) may lower to comp(u) for u—v
        msgs = edges.join(labels.withColumnRenamed("id", "u"), "u").select(
            F.col("v").alias("id"), "comp"
        )
        lowered = labels.union(msgs).groupBy("id").agg(F.min("comp").alias("comp"))
        # 2. pointer jump: comp := comp(comp). Every comp value is itself a
        # node id present in `labels`, so the join always resolves.
        jump = lowered.select(F.col("id").alias("_cid"), F.col("comp").alias("_ccomp"))
        new_labels = (
            lowered.join(jump, lowered["comp"] == jump["_cid"], "left")
            .select("id", F.least("comp", F.coalesce("_ccomp", "comp")).alias("comp"))
        )
        new_labels = (
            new_labels.localCheckpoint(eager=True) if use_local_checkpoint else new_labels.persist()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        if not use_local_checkpoint:
            labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    else:  # pragma: no cover - defensive
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (rounds grow as log2 of the longest path)"
        )
    if stats is not None:
        stats["rounds"] = rounds
        stats["mode"] = "distributed"
    if not use_local_checkpoint:
        # edges are no longer needed once labels stabilize; the RETURNED
        # labels frame stays persisted — callers that keep it long-term on a
        # shared cluster own its unpersist.
        p.unpersist(blocking=False)
        edges.unpersist(blocking=False)
    return labels


def label_clusters(
    members: DataFrame,
    pairs: DataFrame,
    member_col: str,
    node_col: Optional[str] = None,
    max_iter: int = 25,
    content_nodes: bool = False,
) -> DataFrame:
    """Shared tail of every dedup-clusters operator: collapse ``pairs`` to
    components, label every member row, attach cluster sizes and the
    canonical ``keep`` flag — ``(member_col, cluster_id, cluster_size,
    keep)``.

    ``node_col`` (default: ``member_col``) maps each member to its node in
    the pair graph — used by the text path, where exact duplicates are
    pre-collapsed to one representative node (the group's min member id)
    before the LSH sweep. Because every representative is the minimum of its
    group, the component minimum over representatives IS the global minimum
    member id, so ``keep = member == cluster_id`` still marks exactly one
    canonical member per cluster.

    ``content_nodes=True`` handles the other node convention: nodes are
    CONTENT keys (a phash value, a vector fingerprint), not member ids —
    the convention that lets exact-duplicate collapse ride the banded
    shuffle itself (``collect_set`` of content keys per bucket) with zero
    extra stages. Component labels are then content values, so a relabeling
    aggregate maps each component to its minimum member id; the output
    contract is identical to the min-id path.

    The sizes join carries no ``broadcast`` hint on purpose: the number of
    non-singleton clusters is unbounded (a mostly-paired corpus has O(n/2)
    of them — a forced broadcast is a driver OOM at corpus scale). AQE
    broadcasts it automatically whenever it actually is small.
    """
    node_col = node_col or member_col
    comp = connected_components(pairs, src="id_a", dst="id_b", max_iter=max_iter)
    if content_nodes:
        base = (
            members.join(comp.withColumnRenamed("id", node_col), node_col, "left")
            .select(member_col, F.coalesce("comp", F.col(node_col)).alias("_comp"))
        )
        # relabel: component key (content value) → min member id. Only
        # multi-member groups enter the join frame (same unbounded-sizes
        # reasoning as below); single-member groups fall back to self.
        agg = (
            base.groupBy("_comp")
            .agg(F.min(member_col).alias("_cid"), F.count("*").alias("_bs"))
            .filter(F.col("_bs") > 1)
        )
        return base.join(agg, "_comp", "left").select(
            member_col,
            F.coalesce("_cid", F.col(member_col)).alias("cluster_id"),
            F.coalesce("_bs", F.lit(1)).cast("long").alias("cluster_size"),
            (F.col(member_col) == F.coalesce("_cid", F.col(member_col))).alias("keep"),
        )
    base = (
        members.join(comp.withColumnRenamed("id", node_col), node_col, "left")
        .select(member_col, F.coalesce("comp", F.col(node_col)).alias("cluster_id"))
    )
    sizes = base.groupBy("cluster_id").agg(F.count("*").alias("_bs")).filter(F.col("_bs") > 1)
    return base.join(sizes, "cluster_id", "left").select(
        member_col,
        "cluster_id",
        F.coalesce("_bs", F.lit(1)).cast("long").alias("cluster_size"),
        (F.col(member_col) == F.col("cluster_id")).alias("keep"),
    )
