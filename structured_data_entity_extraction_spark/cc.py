"""L7 -- connected-components canonicalization (SURVEY.md §2.5).

Three execution strategies behind one function:

- driver union-find for small graphs (an alias dictionary) -- the
  distributed loop's per-round job latency would dominate;
- iterative min-label propagation: one hash join + one min-aggregation
  per round, O(component diameter) rounds -- optimal for the shallow
  star-ish graphs alias dims and near-dup clusters usually form;
- alternating large-star/small-star contraction (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC'14):
  O(log^2 n) rounds regardless of diameter -- the scale path for deep
  chains (long near-dup link chains at corpus scale).

``method="auto"`` (default) tries min-label for a few rounds (cheapest
per round, wins on shallow graphs) and falls back to the two-phase
star algorithm if the graph turns out deep -- so worst-case round
count is logarithmic, not O(diameter). Lineage is cut with
``localCheckpoint`` every iteration so the plan doesn't grow with the
iteration count (SURVEY.md §4).

Scale notes: every per-round operation keys on the node id -- skew (a
hub node in a mega-component) is handled by AQE skew-join splitting
(enabled in session.py); the per-round min-aggregations do map-side
partial aggregation for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .session import local_frame


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    small_threshold: int = 50_000,
    method: str = "auto",
    minlabel_rounds: int = 6,
    stats: dict | None = None,
) -> DataFrame:
    """edges(src, dst) -> (node, component) with component = min node id
    (under the id column's native ordering) in the node's component.
    Deterministic. ``stats`` (optional dict) receives
    {"method": ..., "rounds": n} for the strategy that produced the
    result.

    method="auto": driver union-find under `small_threshold` edges,
    else min-label for up to `minlabel_rounds` rounds with a fallback
    to large-star/small-star if unconverged (deep graph).
    method="minlabel" / "star" force the distributed strategy (and
    minlabel RAISES if `max_iter` rounds don't converge -- never a
    silently-wrong label)."""
    from pyspark import StorageLevel

    # persist: the size probe (limit.count) and the fast-path collect /
    # iterative rounds would otherwise each re-run the upstream distinct
    # (a full shuffle of the edge source -- 17M rows in the codekg
    # pipeline) once per action
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    probe = (
        sym.limit(small_threshold + 1).collect()
        if method == "auto" and small_threshold
        else None
    )
    if probe is not None and len(probe) <= small_threshold:
        # the bounded probe ALREADY IS the full edge set (limit(n+1)
        # returned <= n rows), so the size check and the fast-path
        # fetch are one action instead of two driver round-trips;
        # union-find with min-root merging is pair-order-independent,
        # so the limit's arbitrary ordering cannot change components
        pairs = [(r["a"], r["b"]) for r in probe]
        sym.unpersist()
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        rows = [(n, find(n)) for n in parent]
        if stats is not None:
            stats.update({"method": "driver", "rounds": 1})
        # schema derived from the edge id type: an empty row list (no
        # edges at all -- e.g. a corpus with zero near-dup pairs) can't
        # infer one and would raise
        id_type = edges.schema[src].dataType
        from pyspark.sql import types as T

        schema = T.StructType(
            [T.StructField("node", id_type), T.StructField("component", id_type)]
        )
        return local_frame(edges.sparkSession, rows, schema)

    try:
        if method == "star":
            labels = _cc_two_phase(sym, max_iter, stats)
        else:
            rounds = minlabel_rounds if method == "auto" else max_iter
            labels = _cc_min_label(sym, rounds, stats)
            if labels is None:  # unconverged: deep graph
                if method == "minlabel":
                    raise RuntimeError(
                        f"min-label CC did not converge in {rounds} rounds "
                        "(component diameter exceeds max_iter); use "
                        'method="star" or raise max_iter'
                    )
                labels = _cc_two_phase(sym, max_iter, stats)
    finally:
        # labels are localCheckpoint'ed, independent of sym; also runs
        # on the non-convergence raise paths so the persist never leaks
        sym.unpersist()
    return labels


def _cc_min_label(sym: DataFrame, max_iter: int, stats: dict | None) -> DataFrame | None:
    """Min-label propagation: pull the best label visible through one
    hop each round. Returns None if `max_iter` rounds don't reach the
    fixpoint (label still moving => diameter > max_iter)."""
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for rnd in range(1, max_iter + 1):
        via_edge = (
            sym.join(labels, sym.b == labels.node)
            .select(F.col("a").alias("node"), "component")
        )
        new_labels = (
            labels.unionByName(via_edge)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            if stats is not None:
                stats.update({"method": "minlabel", "rounds": rnd})
            return labels
    return None


def _cc_two_phase(sym: DataFrame, max_iter: int, stats: dict | None) -> DataFrame:
    """Alternating large-star/small-star contraction.

    large-star: for every node u, hook each STRICTLY LARGER neighbor to
    m(u) = min(Γ(u) ∪ {u}). small-star: orient edges large->small, hook
    each smaller neighbor (and u itself) to the minimum. Both keep the
    invariant that edges connect nodes within one component and
    monotonically shrink to a star forest rooted at component minima in
    O(log^2 n) rounds (Kiveris et al., SoCC'14). Convergence is
    detected by an (edge-count, xxhash64-sum) signature -- one cheap
    aggregate per round instead of a full frame diff."""
    # all nodes up front: contraction drops self-loop-only and already-
    # rooted nodes from the edge frame, but they still need labels
    nodes = sym.select(F.col("a").alias("node")).distinct().localCheckpoint(eager=True)
    e = (
        sym.filter(F.col("a") != F.col("b"))
        .filter(F.col("a") < F.col("b"))  # one canonical direction; both live in sym
        .localCheckpoint(eager=True)
    )

    def signature(df: DataFrame):
        # decimal(38,0) sum: long-sum of 64-bit hashes overflows under
        # ANSI mode; decimal is exact for any realistic edge count
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    def large_star(E: DataFrame) -> DataFrame:
        n = E.union(E.select(F.col("b").alias("a"), F.col("a").alias("b")))
        m = n.groupBy("a").agg(F.min("b").alias("mn"))
        m = m.select("a", F.least(F.col("a"), F.col("mn")).alias("m"))
        return (
            n.join(m, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .distinct()
        )

    def small_star(E: DataFrame) -> DataFrame:
        h = E.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        ).filter(F.col("a") != F.col("b")).distinct()
        m = h.groupBy("a").agg(F.min("b").alias("m"))
        hooked_u = m.select(F.col("a"), F.col("m").alias("b"))
        hooked_nbrs = (
            h.join(m, "a")
            .filter(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        return hooked_u.union(hooked_nbrs).distinct()

    sig = signature(e)
    rounds = 0
    converged = False
    for rnd in range(1, max_iter + 1):
        e = small_star(large_star(e)).localCheckpoint(eager=True)
        new_sig = signature(e)
        rounds = rnd
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        raise RuntimeError(
            f"two-phase CC did not converge in {max_iter} rounds "
            "(expected O(log^2 n)); raise max_iter"
        )
    if stats is not None:
        stats.update({"method": "star", "rounds": rounds})
    # converged edges form a star forest pointing at component minima
    # (small-star output orientation: a > b = root). A node can appear
    # only as a leaf (a) or a root (b); min-aggregate is belt and braces.
    labels = (
        e.select(F.col("a").alias("node"), F.col("b").alias("component"))
        .union(e.select(F.col("b").alias("node"), F.col("b").alias("component")))
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )
    return (
        nodes.join(labels, "node", "left")
        .select("node", F.coalesce("component", F.col("node")).alias("component"))
        .localCheckpoint(eager=True)
    )
