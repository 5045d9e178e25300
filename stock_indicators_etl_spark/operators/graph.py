"""Graph propagation operators and the one fixpoint loop.

North-star surface (reference N/A; complements
``llmdata.dedup.connected_components`` — CC answers "which group",
PageRank answers "how central within the graph"). The dedup use:
rank documents by centrality of the near-dup candidate graph — hub
documents (templates every page copies) rank high and are the ones a
curation pass should inspect.

Every loop that stops on its own (:func:`kcore`, both methods of
``connected_components`` above its driver-side union–find bound)
runs through :func:`converge`, whose round
is a lazy ``localCheckpoint`` of the new state plus a one-row
checksum that both materialises it and decides convergence: plan
depth stays one round and nothing lands in the session cache.

:func:`pagerank` is the FIXED-POINT INTEGER variant: ranks live in
``scale`` units, every step is integer arithmetic
(``r/deg`` and the damping factor are integer divisions), so the
iteration is deterministic and associative — a DuckDB oracle replays
the unrolled iterations bit-exactly, the same strategy as the k-means
oracle. The rounding loss per step is ≤ deg/scale ≈ 10⁻¹² of mass —
irrelevant for ranking, essential for cross-engine exactness.

Plan per iteration: one equi-join of the (pinned) degree-annotated
edge list against the current ranks + one combinable groupBy(dst).
The rank lineage is LINEAR — each iteration reads the previous ranks
exactly once — so intermediate checkpoints are not needed for
correctness; one every ``_PR_CHECKPOINT_EVERY`` rounds bounds plan
depth for long runs while short runs compile to ONE job.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PR_SCALE = 10**12
_PR_CHECKPOINT_EVERY = 8
_LPA_CHECKPOINT_EVERY = 4


def converge(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    cols: tuple[str, str],
    max_iter: int,
    what: tuple[str, str],
) -> DataFrame:
    """Run ``state = step(state)`` to its fixpoint and return it.

    A round is ``step(state).localCheckpoint(eager=False)`` plus a
    one-row checksum over ``cols`` — the round's only action, so it
    also materialises the pin. The checksum is a type-agnostic sum of
    xxhash64 in decimal(38,0) (a long sum would overflow), coalesced
    to 0 so an empty state converges too; the loops driven here are
    deterministic and monotone, so an unchanged sum (up to a ~2^-64
    collision) is the fixpoint, never an oscillation. ``what`` is
    ``(operator, budget parameter)``: a loop that runs out of
    ``max_iter`` rounds raises ``RuntimeError`` naming both rather
    than return a mid-iteration state.
    """
    a, b = cols
    prev = None
    for _ in range(max_iter):
        state = step(state).localCheckpoint(eager=False)
        cur = state.agg(
            F.coalesce(
                F.sum(F.xxhash64(F.col(a), F.col(b)).cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("s")
        ).collect()[0]["s"]
        if cur == prev:
            return state
        prev = cur
    op, budget = what
    raise RuntimeError(
        f"{op} did not reach the fixpoint within {budget}={max_iter} "
        f"rounds; raise {budget}"
    )


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
    src_col: str = "src",
    dst_col: str = "dst",
    scale: int = PR_SCALE,
) -> DataFrame:
    """(v, rank) after ``iters`` integer power iterations over the
    directed edge list. Vertices are the edge endpoints (an isolated
    vertex has no edges to rank it by). Dangling mass leaks, as in
    the simplest published formulation — deterministic either way."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    # Pin the edge list ONCE before anything derives from it (r12,
    # guide §1.2 step 1): verts is referenced in EVERY iteration's
    # rank join (iters+1 subtrees in the final plan) and e_deg in
    # every contrib join — unpinned, each reference re-ran the whole
    # upstream candidate-generation lineage (q_pagerank feeds the
    # LSH chain here). O(E) narrow rows, the same class the CC
    # fixpoint pins.
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).localCheckpoint(eager=True)
    verts = (
        e.select(F.col("src").alias("v"))
        .union(e.select(F.col("dst").alias("v")))
        .distinct()
        # referenced iters+1 times; pinning makes each reference an
        # in-memory scan instead of a repeated distinct shuffle
        .localCheckpoint(eager=True)
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    e_deg = e.join(deg, "src").persist()
    # |V| is a 1-row aggregate — lift it to a DRIVER literal (the
    # bounded-collect class: one long). The previous 1-row frame was
    # crossJoin-broadcast into every iteration: iters+1 broadcast
    # exchanges (= AQE stage-jobs) for one integer. Integer division
    # by a literal is the identical arithmetic.
    n = verts.count()
    if n == 0:
        n = 1  # no edges ⇒ no ranks; keeps the div well-defined

    ranks = verts.select("v", F.lit(scale // n).cast("long").alias("rank"))
    teleport = (scale * (damping_den - damping_num)) // (damping_den * n)
    for it in range(1, iters + 1):
        contrib = (
            e_deg.join(ranks, e_deg["src"] == ranks["v"])
            .select("dst", F.expr("rank div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            verts.join(contrib, verts["v"] == contrib["dst"], "left")
            .select(
                "v",
                F.expr(
                    f"{teleport}"
                    f" + {damping_num} * coalesce(inflow, 0) div {damping_den}"
                ).alias("rank"),
            )
        )
        if it % _PR_CHECKPOINT_EVERY == 0 and it < iters:
            ranks = ranks.localCheckpoint(eager=False)
    # Materialize the final ranks so e_deg can be unpersisted here rather
    # than leaking a cached DataFrame for the session lifetime (the cache
    # is only useful while the iteration lineage is alive).
    ranks = ranks.localCheckpoint(eager=True)
    e_deg.unpersist()
    return ranks


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-vertex triangle counts on an undirected graph — the
    clustering-structure probe for the near-dup candidate graph: a
    vertex in many triangles sits in a dense copy-cluster (template
    boilerplate), one in none is a chance collision; the
    triangle/degree ratio separates the two where raw degree cannot.

    Compact-forward node-iterator with DEGREE ordering: each edge is
    oriented from its (deg, id)-smaller endpoint, so every wedge join
    fans out from a vertex's LOWER-degree side — the classic
    O(m^{3/2}) bound that survives skew (a hub of degree d generates
    joins proportional to its neighbors' degrees, not d²). Three
    equi-joins + one combinable count; all-integer, no floats
    anywhere, so the oracle replays it exactly.
    """
    a = F.least(F.col(src_col), F.col(dst_col))
    b = F.greatest(F.col(src_col), F.col(dst_col))
    e = (
        edges.select(a.alias("a"), b.alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionByName(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    j = (
        e.join(deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
    )
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    ed = j.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
    )
    tri = (
        ed.alias("e1")
        .join(ed.alias("e2"), F.col("e1.dst") == F.col("e2.src"))
        .join(
            ed.alias("e3"),
            (F.col("e3.src") == F.col("e1.src"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .select(
            F.col("e1.src").alias("u"),
            F.col("e1.dst").alias("v"),
            F.col("e2.dst").alias("w"),
        )
    )
    verts = (
        tri.select(F.col("u").alias("v0"))
        .unionByName(tri.select(F.col("v").alias("v0")))
        .unionByName(tri.select(F.col("w").alias("v0")))
    )
    return (
        verts.groupBy("v0")
        .agg(F.count(F.lit(1)).alias("n_tri"))
        .select(F.col("v0").alias("v"), "n_tri")
    )


def kcore(
    edges: DataFrame,
    k: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 64,
) -> DataFrame:
    """The k-core of an undirected graph — the maximal subgraph where
    every vertex keeps degree ≥ k — as ``(v, core_deg)``. The dedup
    use: the k-core of the near-dup candidate graph isolates the
    dense template clusters (mirror farms, boilerplate families) from
    chance pairwise collisions, which no per-edge threshold can do.

    Standard peeling, relationally, as a :func:`converge` step over
    the canonical edge list: degrees (one combinable groupBy over both
    endpoint projections) → keep the vertices with degree ≥ k → two
    semi-joins restrict the edges. The loop ends when a round drops
    no edge and returns that edge set's degrees; peeling deeper than
    ``max_rounds`` raises ``RuntimeError`` (a path loses two vertices
    per round, so a 140-vertex path under k=2 needs 70).

    Exactness contract (how a fixed-unroll DuckDB oracle can replay an
    early-exiting loop bit-exactly): peeling is monotone — once the
    vertex set reaches the k-core, a further round drops nothing and
    every subsequent round is the identity. So ANY round count ≥ the
    convergence round yields the same result, and the oracle simply
    unrolls a generous fixed number of rounds while Spark stops at
    the probe. Pure integer arithmetic throughout.
    """
    if k < 1:
        raise ValueError("kcore needs k >= 1")
    a = F.least(F.col(src_col), F.col(dst_col))
    b = F.greatest(F.col(src_col), F.col(dst_col))
    e = (
        edges.select(a.alias("a"), b.alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def degrees(ed: DataFrame) -> DataFrame:
        return (
            ed.select(F.col("a").alias("v"))
            .unionByName(ed.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("core_deg"))
        )

    def peel(ed: DataFrame) -> DataFrame:
        keep = degrees(ed).filter(F.col("core_deg") >= k).select("v")
        return (
            ed.join(keep.withColumnRenamed("v", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("v", "b"), "b", "left_semi")
        )

    e = converge(e, peel, ("a", "b"), max_rounds, ("kcore", "max_rounds"))
    return degrees(e)


def label_propagation(
    edges: DataFrame,
    iters: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007, the
    deterministic variant): every vertex starts as its own label and
    each round adopts the label most frequent among its neighbors,
    ties broken toward the SMALLEST label — no randomness, so a fixed
    iteration count is a complete behavioral contract and the DuckDB
    oracle replays the unrolled rounds bit-exactly (the same strategy
    as :func:`pagerank`; asynchronous/randomized LPA variants are
    deliberately out — they are not replayable).

    Returns ``(v, label)`` after ``iters`` rounds. Per round: one
    equi-join of the doubled edge list against current labels + one
    combinable (v, label) count + one per-vertex argmax window.
    Communities on the near-dup candidate graph = template families;
    unlike connected components, weakly-bridged clusters do NOT merge
    (the bridge label never wins a local majority).
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    a = F.least(F.col(src_col), F.col(dst_col))
    b = F.greatest(F.col(src_col), F.col(dst_col))
    und = (
        edges.select(a.alias("a"), b.alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    e2 = (
        und.select(F.col("a").alias("v"), F.col("b").alias("nbr"))
        .unionByName(und.select(F.col("b").alias("v"), F.col("a").alias("nbr")))
        .localCheckpoint(eager=True)
    )
    labels = e2.select("v").distinct().select("v", F.col("v").alias("label"))
    for it in range(1, iters + 1):
        nbr_labels = (
            e2.join(
                labels.select(
                    F.col("v").alias("nbr"), F.col("label").alias("nbr_label")
                ),
                "nbr",
            )
            .groupBy("v", "nbr_label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # argmax-by-(cnt desc, label asc) as a COMBINABLE struct max
        # (labels are vertex ids ≥ 0, so -label inverts the tie order)
        # instead of a row_number sort window: the second per-round
        # shuffle stays a hash aggregate with map-side partials
        labels = (
            nbr_labels.groupBy("v")
            .agg(
                F.max(
                    F.struct(
                        F.col("cnt"), (-F.col("nbr_label")).alias("neg")
                    )
                ).alias("m")
            )
            .select("v", (-F.col("m.neg")).alias("label"))
        )
        if it % _LPA_CHECKPOINT_EVERY == 0 and it < iters:
            labels = labels.localCheckpoint(eager=False)
    return labels


def link_prediction_scores(
    edges: DataFrame,
    top_n: int = 20,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Common-neighbor / Jaccard link prediction over an undirected
    edge list: for every NON-edge pair sharing ≥1 neighbor, score
    ``cn = |N(a)∩N(b)|`` and ``jaccard = cn / (deg(a)+deg(b)−cn)``,
    and keep the global ``top_n`` (cn desc, jaccard desc, pair asc).

    Shape: the pair enumeration is a self-join of the adjacency list
    on the shared neighbor — cost Σ_v deg(v)², the standard
    friend-of-friend bound, NOT |V|² (no cartesian anywhere); hub
    vertices are the skew knob — the degree bound comes from the
    EDGE LIST the caller feeds in (a k-NN top-k graph symmetrizes to
    deg ≤ 2k, which is what ``q_link_predict`` relies on; the MinHash
    candidate path caps via ``minhash_lsh_candidates``'
    ``max_bucket_size``). An uncapped edge list makes the hot
    vertex's deg² the straggler. Existing edges drop out with one
    left-anti join; degree annotation is a combinable groupBy. The
    count and degree arithmetic are all BIGINT; ``jaccard`` is one
    IEEE divide — ranking ties are decided on the integer ``cn`` and
    the pair id, so the float never decides alone.

    ``und`` is pinned eagerly: six branches read it (degrees, both
    sides of the self-join, the anti-join), and unpinned each one
    re-ran the symmetrisation and its ``distinct`` over the caller's
    edge lineage (``q_link_predict``: 26 → 13 jobs at sf0.01)."""
    und = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .union(edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    l = und.select(F.col("b").alias("n"), F.col("a").alias("u"))
    r = und.select(F.col("b").alias("n"), F.col("a").alias("v"))
    pairs = (
        l.join(r, "n")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    non_edges = pairs.join(
        und.select(F.col("a").alias("u"), F.col("b").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    scored = (
        non_edges.join(deg.select(F.col("a").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("a").alias("v"), F.col("deg").alias("dv")), "v")
        .select(
            "u",
            "v",
            "cn",
            (
                F.col("cn").cast("double")
                / (F.col("du") + F.col("dv") - F.col("cn")).cast("double")
            ).alias("jaccard"),
        )
    )
    # Global top-n via orderBy+limit → TakeOrderedAndProject (each
    # partition keeps its own top_n, the driver merges) — never a
    # single-partition window over the full pair stream. The rank is
    # then assigned on the top_n-row result, which is trivially small.
    top = scored.orderBy(
        F.col("cn").desc(), F.col("jaccard").desc(), F.col("u").asc(), F.col("v").asc()
    ).limit(top_n)
    w = Window.orderBy(
        F.col("cn").desc(), F.col("jaccard").desc(), F.col("u").asc(), F.col("v").asc()
    )
    return top.withColumn("rk", F.row_number().over(w)).select(
        "rk", "u", "v", "cn", "jaccard"
    )


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    v_col: str = "v",
    label_col: str = "label",
) -> DataFrame:
    """Newman modularity report for a vertex partition (e.g. the
    :func:`label_propagation` communities): per community ``c`` the
    intra-edge count ``e_c``, degree sum ``d_c``, and its exact
    contribution to ``Q = Σ_c (e_c/m − (d_c/2m)²)`` — the standard
    partition-quality gate a template-family detection run publishes
    before the partition is trusted downstream (Q near 0 ⇒ the
    "communities" are no better than random; Q ≳ 0.3 ⇒ real block
    structure).

    Exactness: the float form of Q is a sum of tiny ratios; instead
    each community's contribution is the INTEGER numerator
    ``q_num_c = 4·m·e_c − d_c²`` over the common denominator
    ``(2m)²``, accumulated in DECIMAL(38,0) (at 10¹² edges the
    BIGINT products wrap — the ols_by_key overflow class), with ONE
    IEEE division per row at the end; ``Σ q_num_c / 4m²`` is the
    global Q.

    Plan: edge canonicalization exactly as :func:`label_propagation`
    (distinct a<b, self-loops out) so the two operators agree on m;
    two vertex-label equi-joins classify each edge, one combinable
    count per community, one combinable degree sum; m rides as a
    1-row broadcast. Vertices the labels frame misses are dropped
    from both e_c and d_c (they contribute no classified edges).

    Output: ``(label, n_nodes, e_in, deg_sum, m, q_contrib)`` —
    one row per community.
    """
    a = F.least(F.col(src_col), F.col(dst_col))
    b = F.greatest(F.col(src_col), F.col(dst_col))
    # both frames feed THREE consumers each (m / tagged / deg;
    # e_in×2 / deg / nodes) — pin them or the whole upstream lineage
    # (LSH candidates + 4 LPA rounds) replays per consumer, the
    # pagerank/kcore localCheckpoint convention
    und = (
        edges.select(a.alias("a"), b.alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    lab = labels.select(
        F.col(v_col).alias("_lv"), F.col(label_col).alias("_lab")
    ).localCheckpoint(eager=True)
    tagged = und.join(
        lab.select(F.col("_lv").alias("a"), F.col("_lab").alias("_la")), "a"
    ).join(
        lab.select(F.col("_lv").alias("b"), F.col("_lab").alias("_lb")), "b"
    )
    m_frame = und.agg(F.count(F.lit(1)).alias("m"))
    e_in = (
        tagged.filter(F.col("_la") == F.col("_lb"))
        .groupBy(F.col("_la").alias("label"))
        .agg(F.count(F.lit(1)).alias("e_in"))
    )
    deg = (
        und.select(F.col("a").alias("_lv"))
        .unionByName(und.select(F.col("b").alias("_lv")))
        .join(lab, "_lv")
        .groupBy(F.col("_lab").alias("label"))
        .agg(F.count(F.lit(1)).alias("deg_sum"))
    )
    nodes = lab.groupBy(F.col("_lab").alias("label")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )
    md = F.col("m").cast("decimal(19,0)")
    dd = F.col("deg_sum").cast("decimal(19,0)")
    ed = F.coalesce(F.col("e_in"), F.lit(0)).cast("decimal(19,0)")
    q_num = F.lit(4).cast("decimal(19,0)") * md * ed - dd * dd
    denom = (F.lit(4).cast("decimal(19,0)") * md * md).cast("double")
    return (
        nodes.join(deg, "label", "left")
        .join(e_in, "label", "left")
        .crossJoin(F.broadcast(m_frame))
        .select(
            "label",
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.coalesce(F.col("e_in"), F.lit(0)).cast("long").alias("e_in"),
            F.coalesce(F.col("deg_sum"), F.lit(0)).cast("long").alias("deg_sum"),
            F.col("m").cast("long").alias("m"),
            F.when(F.col("m") == 0, F.lit(0.0))
            .otherwise(q_num.cast("double") / denom)
            .alias("q_contrib"),
        )
    )
