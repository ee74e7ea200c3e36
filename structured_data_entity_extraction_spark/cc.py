"""L7 -- connected-components canonicalization (SURVEY.md §2.5).

One function, two execution paths chosen by edge count:

- up to ``SMALL_THRESHOLD`` distinct directed edges: driver union-find
  (an alias dictionary) -- the distributed loop's per-round job latency
  would dominate. codekg's entity graph and the near-dup/simhash group
  queries take this path;
- above it: alternating large-star/small-star contraction (Kiveris et
  al., "Connected Components in MapReduce and Beyond", SoCC'14):
  O(log^2 n) rounds regardless of component diameter, so deep chains
  (long near-dup link chains at corpus scale) and hubs both converge.
  Lineage is cut with ``localCheckpoint`` every round so the plan
  doesn't grow with the round count (SURVEY.md §4); a round's
  checkpoint is released once the next one is written.

``SMALL_THRESHOLD`` and the round cap ``MAX_ITER`` are module
constants; a threshold of 0 sends every graph down the star path.

Scale notes: every per-round operation keys on the node id -- skew (a
hub node in a mega-component) is handled by AQE skew-join splitting
(enabled in session.py); the per-round min-aggregations do map-side
partial aggregation for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .ops.cache import release_checkpoint
from .session import local_frame

SMALL_THRESHOLD = 50_000
MAX_ITER = 20


def connected_components(edges: DataFrame, stats: dict | None = None) -> DataFrame:
    """edges(src, dst) -> (node, component) with component = min node id
    (under the id column's native ordering) in the node's component.
    Deterministic. ``stats`` (optional dict) receives
    {"method": "driver" | "star", "rounds": n} for the path that
    produced the result. The star path RAISES if ``MAX_ITER`` rounds
    don't converge -- never a silently-wrong label."""
    from pyspark import StorageLevel

    # persist: the size probe and the star rounds would otherwise each
    # re-run the upstream distinct (a full shuffle of the edge source --
    # 17M rows in the codekg pipeline) once per action
    sym = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        if SMALL_THRESHOLD:
            # the bounded probe ALREADY IS the full edge set when
            # limit(n+1) returns <= n rows, so the size check and the
            # driver-path fetch are one action
            probe = sym.limit(SMALL_THRESHOLD + 1).collect()
            if len(probe) <= SMALL_THRESHOLD:
                return _cc_driver(sym, probe, stats)
        return _cc_two_phase(sym, stats)
    finally:
        # both paths' results are independent of sym (a local relation
        # or a localCheckpoint); also runs on the probe's and the
        # non-convergence raise paths so the persist never leaks
        sym.unpersist()


def _cc_driver(sym: DataFrame, pairs: list, stats: dict | None) -> DataFrame:
    """Union-find with min-root merging over the collected edge set.
    It is pair-order-independent, so the probe's arbitrary row order
    cannot change components."""
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
    # schema derived from the edge id type: an empty row list (no edges
    # at all -- e.g. a corpus with zero near-dup pairs) can't infer one
    id_type = sym.schema["a"].dataType
    schema = T.StructType(
        [T.StructField("node", id_type), T.StructField("component", id_type)]
    )
    return local_frame(sym.sparkSession, rows, schema)


def _cc_two_phase(sym: DataFrame, stats: dict | None) -> DataFrame:
    """Alternating large-star/small-star contraction.

    large-star: for every node u, hook each STRICTLY LARGER neighbor to
    m(u) = min(Γ(u) ∪ {u}). small-star: orient edges large->small, hook
    each smaller neighbor (and u itself) to the minimum. Both keep the
    invariant that edges connect nodes within one component and
    monotonically shrink to a star forest rooted at component minima in
    O(log^2 n) rounds (Kiveris et al., SoCC'14). Convergence is
    detected by an (edge-count, xxhash64-sum) signature, observed on
    the job that checkpoints each round -- no frame diff, no extra
    aggregate job."""
    # one canonical direction (both live in sym), self-loops dropped;
    # checkpointed because each round reads it four times
    e = sym.filter(F.col("a") < F.col("b")).localCheckpoint(eager=True)

    def checkpoint(df: DataFrame):
        obs = Observation()
        df = df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            # decimal(38,0) sum: long-sum of 64-bit hashes overflows
            # under ANSI mode; decimal is exact for any realistic count
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
        ).localCheckpoint(eager=True)
        observed = obs.get
        return df, (observed["n"], observed["h"])

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

    # no signature of the input: it is oriented a < b and every round's
    # output a > b, so the two never match on a non-empty graph
    sig = None
    try:
        for rnd in range(1, MAX_ITER + 1):
            nxt, new_sig = checkpoint(small_star(large_star(e)))
            release_checkpoint(e)
            e = nxt
            if new_sig == sig:
                break
            sig = new_sig
        else:
            raise RuntimeError(
                f"two-phase CC did not converge in {MAX_ITER} rounds "
                "(expected O(log^2 n)); raise cc.MAX_ITER"
            )
        if stats is not None:
            stats.update({"method": "star", "rounds": rnd})
        # converged edges form a star forest pointing at component minima
        # (small-star output orientation: a > b = root), so a node is a
        # leaf (a) labelled with its root, or else its own label: roots,
        # and self-loop-only nodes, which contraction dropped -- hence the
        # node list from sym. The min-aggregate is belt and braces.
        labels = e.groupBy(F.col("a").alias("node")).agg(F.min("b").alias("component"))
        return (
            sym.select(F.col("a").alias("node"))
            .distinct()
            .join(labels, "node", "left")
            .select("node", F.coalesce("component", F.col("node")).alias("component"))
            .localCheckpoint(eager=True)
        )
    finally:
        release_checkpoint(e)
