"""Iterative graph algorithms on edge-list DataFrames.

Connected components (the dedup workhorse) lives in
:mod:`spark_extension_spark.operators.dedup`; this module adds PageRank
— the standard authority score for host/domain-level corpus curation
(rank sources by link authority, downweight link-farm hosts, seed
crawl frontiers).

Execution shape per iteration (the thing that must hold at 10^10
edges): ONE equi-join (ranks onto edges, keyed by source) + ONE
aggregate (contributions keyed by destination) + a 1-row broadcast
(dangling mass).  No driver-side collection of anything wider than the
dangling-mass scalar.  Every iterative loop here (pagerank, k_core,
label_propagation) ``localCheckpoint``-s its state after every round
but the last — each round references the previous state 2-3 times,
so a sparser cadence recomputes b^c rounds of work between checkpoints
(measured 87 s -> 7 s on the sf0.1 k-core gate going from every-4 to
every-1) — and keeps one generation live
(:class:`~spark_extension_spark.utils.LocalCheckpointCycler`).

Determinism: per-destination contribution sums and the dangling mass
run in DECIMAL(38,20) — order-independent, so ranks are bit-identical
across partitionings and engines, and the whole fixed-iteration
computation unrolls into plain SQL for the oracle gate.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..utils import LocalCheckpointCycler, UnpersistHandle

__all__ = ["pagerank", "out_degrees", "undirected_edges", "degrees", "triangle_counts", "k_core", "label_propagation", "label_propagation_sql"]


def out_degrees(edges: DataFrame, src: str = "src") -> DataFrame:
    """(id, out_deg) for every source appearing in the edge list."""
    return edges.groupBy(F.col(src).alias("id")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
    unpersist_handle: Optional[UnpersistHandle] = None,
) -> DataFrame:
    """PageRank over a directed edge list: (``id``, ``rank``) after
    ``iterations`` synchronous power-iteration steps with uniform
    teleport — ``rank' = (1−d)/N + d·(Σ_in rank/out_deg + dangling/N)``.
    Dangling nodes (no out-edges) redistribute their mass uniformly,
    so total rank is conserved at every step.

    A fixed iteration count (not a convergence epsilon) keeps the
    result a pure deterministic function of the input — reproducible,
    auditable, and exactly replicable in SQL; 10–20 iterations is the
    standard operating range for ranking purposes.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    d = float(damping)

    # hash-partitioned on src ONCE: every iteration joins ranks onto the
    # edges by src, and the out-degree count groups by src — with the
    # scan's arbitrary layout both reshuffled the full edge list every
    # round (the round-11 CC/LPA finding applied to pagerank)
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).repartition(
        "src"
    ).persist()
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionAll(e.select(F.col("dst").alias("id")))
        .distinct()
        .persist()
    )
    deg = out_degrees(e, "src")
    # (id, out_deg) with 0 for dangling nodes — left join once, reused
    # every iteration
    base = nodes.join(deg, "id", "left").select(
        "id", F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg")
    ).persist()
    # the three caches (edges, node set, degree base) are read every
    # iteration and outlive the returned DataFrame's consumption; pass
    # an unpersist_handle and call it when done to release them (same
    # contract as triangle_counts / label_propagation)
    if unpersist_handle is not None:
        unpersist_handle.set_dataframe(e)
        unpersist_handle.add_dataframe(nodes)
        unpersist_handle.add_dataframe(base)
    total = base.agg(F.count(F.lit(1)).cast("double").alias("__n"))

    ranks = base.crossJoin(F.broadcast(total)).select(
        "id", "out_deg", (F.lit(1.0) / F.col("__n")).alias("rank"), "__n"
    )

    # superseded checkpoint generations are freed as the next one lands
    # (each round reads only the previous ranks), so live checkpoint
    # storage stays at one generation across any iteration count; the
    # final generation backs the returned DataFrame and is left live
    cycler = LocalCheckpointCycler(e.sparkSession)
    from pyspark.sql import Observation

    # The dangling mass is a 1-row aggregate over the PREVIOUS ranks.
    # Every round but the last ends in a checkpoint, and that exact sum
    # is folded into the checkpoint's Observation (the k_core pattern)
    # and arrives in the next round as a plain Python double — the
    # dangling subtree (filter + decimal aggregate + broadcast build)
    # then vanishes from that round's plan entirely.  The observed
    # expression is the SAME order-independent decimal(38,20) sum cast
    # to double inside the JVM, so the literal is bit-identical to what
    # the broadcast row carried.  The in-plan broadcast serves round 0
    # only, over the un-materialized seed.
    observed_dang = None
    for i in range(int(iterations)):
        contrib = (
            e.join(ranks.select("id", "out_deg", "rank"), e["src"] == F.col("id"))
            .select(F.col("dst"), (F.col("rank") / F.col("out_deg").cast("double")).alias("__c"))
            .groupBy("dst")
            .agg(F.sum(F.col("__c").cast("decimal(38,20)")).cast("double").alias("__in"))
        )
        stepped = ranks.join(contrib, ranks["id"] == contrib["dst"], "left")
        if observed_dang is not None:
            dang_col = F.lit(float(observed_dang))
        else:
            dangling = ranks.where(F.col("out_deg") == 0).agg(
                F.coalesce(
                    F.sum(F.col("rank").cast("decimal(38,20)")).cast("double"),
                    F.lit(0.0),
                ).alias("__dang")
            )
            stepped = stepped.crossJoin(F.broadcast(dangling))
            dang_col = F.col("__dang")
        ranks = stepped.select(
            "id",
            "out_deg",
            (
                F.lit(1.0 - d) / F.col("__n")
                + F.lit(d)
                * (F.coalesce(F.col("__in"), F.lit(0.0)) + dang_col / F.col("__n"))
            ).alias("rank"),
            "__n",
        )
        if i + 1 < iterations:
            obs = Observation()
            ranks = cycler.checkpoint(
                ranks.observe(
                    obs,
                    F.coalesce(
                        F.sum(
                            F.when(F.col("out_deg") == 0, F.col("rank")).cast(
                                "decimal(38,20)"
                            )
                        ).cast("double"),
                        F.lit(0.0),
                    ).alias("__dang"),
                )
            )
            observed_dang = obs.get["__dang"]

    # the last live generation backs the returned ranks' lineage and
    # cannot be freed here; the caller's handle frees it when done
    if unpersist_handle is not None:
        unpersist_handle.add_callback(cycler.release)
    return ranks.select("id", "rank")


def pagerank_sql(
    edges_subquery: str,
    iterations: int = 10,
    damping: float = 0.85,
) -> str:
    """DuckDB query computing :func:`pagerank` exactly — the fixed
    iteration count unrolls into one CTE per step with the identical
    arithmetic (decimal contribution sums, double combination)."""
    d = float(damping)
    parts = [
        f"e AS MATERIALIZED ({edges_subquery})",
        "nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e))",
        "deg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS out_deg FROM e GROUP BY 1)",
        "base AS (SELECT n.id, COALESCE(deg.out_deg, 0) AS out_deg FROM nodes n LEFT JOIN deg USING (id))",
        "tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM base)",
        "r0 AS MATERIALIZED (SELECT id, out_deg, 1.0 / n AS rank, n FROM base CROSS JOIN tot)",
    ]
    prev = "r0"
    for i in range(1, int(iterations) + 1):
        cur = f"r{i}"
        parts.append(
            f"""c{i} AS (
  -- decimal->double via VARCHAR: DuckDB's direct cast is last-ulp off
  -- Spark's correctly-rounded one, and the error compounds per round
  SELECT e.dst, CAST(CAST(SUM(CAST(r.rank / CAST(r.out_deg AS DOUBLE) AS DECIMAL(38,20))) AS VARCHAR) AS DOUBLE) AS cin
  FROM e JOIN {prev} r ON e.src = r.id GROUP BY e.dst
),
g{i} AS (
  SELECT COALESCE(CAST(CAST(SUM(CAST(rank AS DECIMAL(38,20))) AS VARCHAR) AS DOUBLE), 0.0) AS dang
  FROM {prev} WHERE out_deg = 0
),
{cur} AS MATERIALIZED (
  SELECT r.id, r.out_deg,
         {1.0 - d!r} / r.n + {d!r} * (COALESCE(c{i}.cin, 0.0) + g{i}.dang / r.n) AS rank,
         r.n
  FROM {prev} r LEFT JOIN c{i} ON c{i}.dst = r.id CROSS JOIN g{i}
)"""
        )
        prev = cur
    return "WITH " + ",\n".join(parts) + f"\nSELECT id, rank FROM {prev}"


def undirected_edges(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Canonical undirected edge list: self-loops dropped, endpoints
    ordered ``u < v``, duplicates (including reversed duplicates)
    collapsed.  The normal form every undirected algorithm here starts
    from — one projection + one distinct (a single exchange on the
    edge pair)."""
    u = F.least(F.col(src), F.col(dst)).alias("u")
    v = F.greatest(F.col(src), F.col(dst)).alias("v")
    return edges.where(F.col(src) != F.col(dst)).select(u, v).distinct()


def degrees(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(id, degree) over the canonical undirected graph: number of
    distinct neighbours per node.  One union + one count aggregate."""
    return degrees_from_canonical(undirected_edges(edges, src, dst))


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    unpersist_handle: Optional[UnpersistHandle] = None,
) -> DataFrame:
    """Per-node triangle participation over the undirected graph:
    ``(id, degree, triangles, clustering_coef)`` — the local density
    signal behind community/spam detection on host graphs and
    co-occurrence networks (a high-degree node with no triangles is a
    hub or a link farm; a clique neighbourhood has coefficient 1).

    Algorithm: degree-ordered node-iterator — the scalable standard.
    Every canonical edge is *oriented* from its lower-(degree, id)
    endpoint to the higher; wedges are built by self-joining oriented
    edges on their source and closed against the canonical edge list.
    Orientation is what makes this survive power-law graphs: a node's
    wedge fan-out is C(out_deg, 2), and directing every edge toward
    the higher-degree endpoint bounds out-degrees by O(√m) — the
    celebrity with 10⁸ followers generates no wedges; her *followers*
    (out-degree toward her ≤ √m each) do.  Each triangle {x, y, z}
    materializes exactly once, at its lowest-ranked corner.

    Joins: two equi-joins over the oriented list + one closure
    equi-join + two broadcast-sized degree joins; per-node counts come
    from one corner explode + aggregate (a single pass over the
    triangle list — a union of three projections would re-run the
    wedge/closure joins per branch).  All arithmetic is
    integer until the final clustering coefficient (``2t / d(d−1)``,
    one double division — engine-exact), so the whole computation
    replays bit-identically in SQL.

    Nodes with degree < 2 have coefficient 0.0 by convention.  The
    canonical and oriented edge lists are persisted (each feeds two+
    plan branches — without the cache the degree joins replay per
    branch); pass an ``unpersist_handle`` to release them when done
    (the handle tracks both frames and one call releases them).
    """
    und = undirected_edges(edges, src, dst).persist()
    if unpersist_handle is not None:
        unpersist_handle.set_dataframe(und)
    deg = degrees_from_canonical(und)

    du = deg.select(F.col("id").alias("u"), F.col("degree").alias("__du"))
    dv = deg.select(F.col("id").alias("v"), F.col("degree").alias("__dv"))
    ranked = und.join(du, "u").join(dv, "v")
    u_first = (F.col("__du") < F.col("__dv")) | (
        (F.col("__du") == F.col("__dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(u_first, F.col("__dv")).otherwise(F.col("__du")).alias("__db"),
    ).persist()
    if unpersist_handle is not None:
        unpersist_handle.add_dataframe(oriented)

    e1 = oriented.select("a", F.col("b").alias("x"), F.col("__db").alias("__dx"))
    e2 = oriented.select("a", F.col("b").alias("y"), F.col("__db").alias("__dy"))
    wedges = e1.join(e2, "a").where(
        (F.col("__dx") < F.col("__dy"))
        | ((F.col("__dx") == F.col("__dy")) & (F.col("x") < F.col("y")))
    )
    tri = wedges.join(
        und,
        (F.least("x", "y") == F.col("u")) & (F.greatest("x", "y") == F.col("v")),
    ).select("a", "x", "y")

    # one explode emits all three corners of each triangle in a single
    # pass over `tri`; a union of three projections would re-execute
    # the (uncached) wedge + closure joins once per branch — exchange
    # reuse dedups the shuffles below a SortMergeJoin but not the merge
    # itself
    corners = tri.select(
        F.explode(F.array(F.col("a"), F.col("x"), F.col("y"))).alias("id")
    )
    per_node = corners.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("triangles")
    )
    d = F.col("degree")
    t = F.coalesce(F.col("triangles"), F.lit(0)).cast("long")
    coef = F.when(
        d >= 2,
        (F.lit(2) * t).cast("double") / (d * (d - F.lit(1))).cast("double"),
    ).otherwise(F.lit(0.0))
    return (
        deg.join(per_node, "id", "left")
        .select("id", "degree", t.alias("triangles"), coef.alias("clustering_coef"))
    )


def degrees_from_canonical(und: DataFrame) -> DataFrame:
    """(id, degree) given an already-canonical ``(u, v)`` edge list.

    Both endpoints are emitted by one explode over a single pass — a
    union of two projections reads the edge list twice (once per
    branch), which doubles the per-round cache reads inside the
    iterative consumers (k_core's peeling loop)."""
    ends = und.select(F.explode(F.array(F.col("u"), F.col("v"))).alias("id"))
    return ends.groupBy("id").agg(F.count(F.lit(1)).cast("long").alias("degree"))


def k_core(
    edges: DataFrame,
    k: int,
    rounds: int = 10,
    src: str = "src",
    dst: str = "dst",
    unpersist_handle: Optional[UnpersistHandle] = None,
) -> DataFrame:
    """Nodes of the ``k``-core (the maximal subgraph where every node
    keeps degree ≥ k) after ``rounds`` synchronous peeling passes,
    with their within-core degree — the standard "dense backbone"
    extraction for host graphs and co-occurrence networks (spam rings
    and boilerplate clusters live in high cores; long-tail pages
    don't).

    Each pass: compute degrees on the surviving subgraph, drop nodes
    below ``k``, drop their incident edges — one aggregate + two
    semi-joins per pass, nothing quadratic.  Peeling converges *from
    above* and is monotone: once a pass drops nothing, every further
    pass is a no-op, so a fixed ``rounds`` either reaches the exact
    k-core (typical well before 10 rounds) or a supergraph of it —
    deterministic either way and exactly replicable in SQL
    (:func:`k_core_sql` unrolls the same passes).  Long peel chains
    (a path graph peels one node per pass) need more rounds; raise
    ``rounds`` when the survivor count hasn't stabilized.

    Lineage is truncated with ``localCheckpoint`` before the first pass
    and after every pass but the last — the iterative-plan guard shared
    with :func:`pagerank` and connected components.  Peeling is
    monotone (passes only REMOVE edges), so a pass that leaves the
    edge COUNT unchanged left the edge SET unchanged and every further
    pass is a provable no-op: the loop exits early then, with a result
    identical to running all ``rounds`` (and to :func:`k_core_sql`'s
    full unroll).  The count — plus an order-independent edge hash-sum
    and a monotonicity tripwire that guard the exit against
    observed-metric inflation under cluster task retries (see the loop
    comment) — rides an :class:`~pyspark.sql.Observation` on the
    checkpoint job the loop already pays, so early exit costs zero
    extra actions.  Pass an ``unpersist_handle`` to free the last
    checkpoint generation when done with the result (it backs the
    returned frame's lineage, so it stays live until then; without a
    handle it falls to GC).
    """
    from pyspark.sql import Observation

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    cur = undirected_edges(edges, src, dst)
    # each pass reads only the previous edge set, so the superseded
    # checkpoint is freed as soon as the next one lands
    cycler = LocalCheckpointCycler(edges.sparkSession)
    # The early exit reads (count, xxhash64-sum) of the surviving edge
    # set from an Observation.  Observed metrics can OVER-count when
    # stages/tasks retry on a real cluster, so the exit is guarded two
    # ways: (a) peeling is monotone, so an observed count ABOVE the
    # previous reading proves inflation — the tripwire distrusts every
    # later reading and falls back to the fixed round count (still
    # exact, just no early exit); (b) a retry that inflates the count
    # back to a coincidental match would also have to reproduce the
    # order-independent hash-sum of the previous edge SET.  In local
    # mode (exactly-once observation) count-equality alone is already
    # a theorem-backed fixed-point proof; the extra guard costs two
    # aggregate expressions on a job the loop pays anyway.
    exit_metrics = [
        F.count(F.lit(1)).alias("n"),
        # bit_xor: order-independent like the former decimal(20,0)
        # hash-SUM but pure int64 — no decimal path and no overflow at
        # ANY edge count (the sum form's ANSI bound was ~10^10 edges).
        # XOR cancels duplicated rows, but the exit also requires the
        # COUNT to match and the monotonicity tripwire distrusts any
        # count rise, so a retry-inflated observation still cannot pass.
        # A/B-measured (5 interleaved clean-steal rounds): the guard —
        # either form — costs nothing over a count-only exit; the r12
        # floor delta (1.04 -> 1.29 s) was host drift, not the guard.
        F.bit_xor(F.xxhash64(F.col("u"), F.col("v"))).alias("h"),
    ]
    metrics_trusted = True
    # checkpoint the canonical edge set BEFORE the loop: pass 0
    # consumes it three times (two degree projections + the semi-join
    # base), and un-truncated each consumer re-runs the distinct-union
    # over the source — the sibling iteratives (pagerank, LPA) pin
    # their base frames the same way
    obs0 = Observation()
    cur = cycler.checkpoint(cur.observe(obs0, *exit_metrics))
    prev = (obs0.get["n"], obs0.get["h"])
    for r in range(int(rounds)):
        deg = degrees_from_canonical(cur)
        keep = deg.where(F.col("degree") >= int(k)).select("id")
        cur = (
            cur.join(keep.select(F.col("id").alias("u")), "u", "left_semi")
            .join(keep.select(F.col("id").alias("v")), "v", "left_semi")
        )
        if r + 1 < rounds:
            obs = Observation()
            cur = cycler.checkpoint(cur.observe(obs, *exit_metrics))
            n_h = (obs.get["n"], obs.get["h"])
            if n_h[0] > prev[0]:
                metrics_trusted = False  # retry inflation: counts rose
            if metrics_trusted and n_h == prev:
                break  # fixed point: every remaining pass is a no-op
            prev = n_h
    # the last live generation backs the returned frame's lineage and
    # cannot be freed here; the caller's handle frees it when done
    if unpersist_handle is not None:
        unpersist_handle.add_callback(cycler.release)
    return degrees_from_canonical(cur).where(F.col("degree") >= int(k))


def k_core_sql(edges_subquery: str, k: int, rounds: int = 10) -> str:
    """DuckDB query computing :func:`k_core` exactly — the fixed pass
    count unrolls into one degree CTE + one filtered edge CTE per
    pass."""
    parts = [
        f"raw AS MATERIALIZED ({edges_subquery})",
        "e0 AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v"
        " FROM raw WHERE src <> dst)",
    ]
    prev = "e0"
    for r in range(1, int(rounds) + 1):
        parts.append(
            f"""d{r} AS MATERIALIZED (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS degree
  FROM (SELECT u AS id FROM {prev} UNION ALL SELECT v AS id FROM {prev})
  GROUP BY id
),
keep{r} AS MATERIALIZED (SELECT id FROM d{r} WHERE degree >= {int(k)}),
e{r} AS MATERIALIZED (
  SELECT e.u, e.v FROM {prev} e
  JOIN keep{r} ku ON ku.id = e.u
  JOIN keep{r} kv ON kv.id = e.v
)"""
        )
        prev = f"e{r}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT id, degree FROM (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS degree
  FROM (SELECT u AS id FROM {prev} UNION ALL SELECT v AS id FROM {prev})
  GROUP BY id
) WHERE degree >= {int(k)}"""
    )


def label_propagation(
    edges: DataFrame,
    iterations: int = 5,
    src: str = "src",
    dst: str = "dst",
    unpersist_handle: Optional[UnpersistHandle] = None,
) -> DataFrame:
    """Community detection by synchronous label propagation over the
    undirected graph: (``id``, ``label``) after ``iterations`` rounds.
    Where connected components answers "what is reachable", LPA finds
    *densely linked* groups inside one component — mirror clusters and
    template families in host graphs, topic pockets in co-occurrence
    graphs — with no parameter beyond the round count.

    Every node starts as its own label; each round every node adopts
    the most frequent label among its neighbours **plus its own
    current label** (the self-vote damps the two-colouring oscillation
    synchronous LPA is known for), ties broken toward the smallest
    label.  The argmax rule makes the update deterministic, so a fixed
    iteration count yields a pure function of the edge list —
    reproducible across runs/partitionings and exactly replicable in
    SQL (:func:`label_propagation_sql`).

    Scale shape per round (what must hold at 10^10 edges): ONE
    equi-join (labels onto the directed-both edge list, keyed by
    source — exchange-free: the edge list is hash-partitioned on ``u``
    once up front and the label state arrives hash-partitioned on
    ``id`` from the previous round's aggregate, so the co-partitioned
    join moves nothing) + ONE map-side-combined count aggregate + ONE
    map-side-combined max-struct argmax per node — label-cardinality-
    sized, not edge-sized, and with NO per-node sort (the former
    ``row_number`` window sorted every node's label counts each round;
    ``min(struct(-count, label))`` is the identical argmax — count
    desc, label asc on ties — as a plain aggregate, for any orderable
    id type).  State is
    ``localCheckpoint``-ed after every round but the last to truncate
    lineage.  The canonical edge list is persisted (it feeds
    every round); pass an ``unpersist_handle`` to release it.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")

    und = undirected_edges(edges, src, dst)
    # hash-partition the round-invariant edge list on the join key ONCE
    # (the union output is otherwise partitioned by its inputs' layout,
    # forcing a full edge shuffle into the join EVERY round)
    both = und.select("u", "v").unionAll(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).repartition("u").persist()
    if unpersist_handle is not None:
        unpersist_handle.set_dataframe(both)

    labels = both.select(F.col("u").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    )

    # each round votes from the previous labels only
    cycler = LocalCheckpointCycler(edges.sparkSession)
    for i in range(int(iterations)):
        votes = (
            both.join(labels.withColumnRenamed("id", "u"), "u")
            .select(F.col("v").alias("id"), "label")
            .unionAll(labels)  # self-vote
        )
        counts = votes.groupBy("id", "label").agg(F.count(F.lit(1)).alias("__c"))
        # argmax by (count desc, label asc) as one map-side-combined
        # aggregate: min(struct(-count, label)).  Negating the COUNT —
        # bounded by degree+1, never near Long.MIN_VALUE — keeps the
        # same argmax for ANY orderable label type (struct comparison
        # is lexicographic), so string/date/decimal ids take the same
        # single code path as longs; the former max(-label) encoding
        # worked only for numerics and wrapped at Long.MIN_VALUE under
        # non-ANSI arithmetic.
        labels = (
            counts.groupBy("id")
            .agg(
                F.min(
                    F.struct((-F.col("__c")).alias("nc"), F.col("label"))
                ).alias("__b")
            )
            .select("id", F.col("__b.label").alias("label"))
        )
        if i + 1 < iterations:
            labels = cycler.checkpoint(labels)

    # the last live generation backs the returned labels' lineage and
    # cannot be freed here; the caller's handle frees it when done
    if unpersist_handle is not None:
        unpersist_handle.add_callback(cycler.release)
    return labels


def label_propagation_sql(edges_subquery: str, iterations: int = 5) -> str:
    """DuckDB query computing :func:`label_propagation` exactly — one
    CTE per round with the identical vote/argmax arithmetic."""
    parts = [
        f"e0 AS MATERIALIZED ({edges_subquery})",
        "und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM e0 WHERE src <> dst)",
        "both_e AS MATERIALIZED (SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und)",
        "l0 AS (SELECT DISTINCT u AS id, u AS label FROM both_e)",
    ]
    prev = "l0"
    for i in range(1, int(iterations) + 1):
        cur = f"l{i}"
        parts.append(
            f"""v{i} AS (
  SELECT b.v AS id, l.label FROM both_e b JOIN {prev} l ON b.u = l.id
  UNION ALL SELECT id, label FROM {prev}
),
c{i} AS (SELECT id, label, COUNT(*) AS c FROM v{i} GROUP BY 1, 2),
{cur} AS MATERIALIZED (
  SELECT id, label FROM (
    SELECT id, label, ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, label) AS rn
    FROM c{i}
  ) WHERE rn = 1
)"""
        )
        prev = cur
    return "WITH " + ",\n".join(parts) + f"\nSELECT id, label FROM {prev}"
