"""Iterative graph operators (engine extension): connected components
for duplicate-cluster canonicalization.

Near-dup mining (MinHash-LSH / SimHash / Jaccard in operators/dedup.py)
emits PAIRS; deduplication needs CLUSTERS — the transitive closure of
the pair relation — so each cluster can elect one canonical survivor.
Connected components is the smallest iterative algorithm this engine
ships, and the template for any fixpoint loop on DataFrames.

Scale shape (min-label propagation):
- each iteration is one equi-join (labels ⋈ symmetric edges) + one
  min-aggregate — both shuffle on the node id, so the partitioning is
  reused and AQE handles skewed hub nodes;
- a lineage barrier after every iteration (``operators.util.barrier``:
  executor-local by default, reliable when the session sets
  ``spark.checkpoint.dir``) truncates the plan (an unbounded iterative
  plan otherwise grows until the optimizer chokes — the standard Spark
  fixpoint pitfall);
- convergence is detected from the monotone label sum (labels only
  ever decrease), costing one tiny aggregate per iteration instead of a
  join-based diff;
- iterations needed = graph diameter, fine for near-dup clusters. For
  web-scale graphs swap in the large-star/small-star variant; the loop
  scaffolding stays the same.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dnsflow_clickhouse_spark.operators.util import barrier


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    num_partitions: int | None = None,
) -> DataFrame:
    """(id, comp) for every node appearing in ``edges``; ``comp`` is the
    smallest node id reachable from ``id`` (deterministic canonical
    label). Undirected: edges are symmetrized internally.

    ``num_partitions`` sizes every shuffle inside the loop. The node set
    is usually orders smaller than the corpus that produced the edges
    (only near-dup members appear), so a small explicit value avoids
    paying per-iteration task overhead on hundreds of near-empty
    partitions; leave None to inherit the session default for
    genuinely large graphs.
    """
    nparts = num_partitions
    # materialize the (often expensive) edge pipeline ONCE — nodes, sym
    # and the first labels frame all derive from it, and without the
    # barrier each derivation re-runs the full upstream plan.  In the
    # default mode the per-iteration convergence collect is the
    # materializing action, and the checkpoint's implicit persist
    # dedupes any multi-reference compute above shuffle boundaries.
    edges = barrier(edges.select(F.col(src), F.col(dst)))
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    if nparts:
        # one exchange, not two (r14): hashpartitioning(a) satisfies the
        # dedup aggregate's clustered distribution on (a, b) — rows of
        # equal (a, b) share a — so the explicit (AQE-exempt) repartition
        # doubles as the distinct's exchange
        sym = sym.repartition(nparts, "a").dropDuplicates(["a", "b"])
    else:
        sym = sym.distinct()
    sym = barrier(sym)
    # seed labels with the NEIGHBOR-min, not the identity: every node
    # appears as `a` in the symmetrized edges, so one aggregate both
    # enumerates the node set (replacing the union+distinct nodes
    # frame) and performs what is effectively iteration zero for free —
    # cliques and stars converge one blocking round earlier, which on
    # near-dup graphs (small diameters) is a third of the loop.
    labels = barrier(
        sym.groupBy(F.col("a").alias("id"))
        .agg(F.min("b").alias("__mn"))
        .select("id", F.least(F.col("id"), F.col("__mn")).alias("comp"))
    )
    prev_sum = labels.agg(F.sum("comp")).collect()[0][0]
    converged = False
    for it in range(max_iter):
        msgs = sym.join(labels, sym["a"] == labels["id"]).select(
            F.col("b").alias("id"), F.col("comp")
        )
        stepped = (
            labels.select("id", "comp")
            .unionByName(msgs)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
        )
        # pointer-jumping shortcut (label doubling): follow each label to
        # ITS label — comp(comp(id)) — so a label travels 2^t hops after t
        # rounds and the loop converges in O(log diameter) blocking
        # rounds instead of O(diameter). Valid because comp is always a
        # reachable node id (reachability is transitive), labels only
        # decrease, and the plain neighbor-min step still runs every
        # round, so the fixpoint is the same min-reachable-id. The
        # expensive side of the shortcut join reads stepped's own
        # aggregation shuffle, which executes once.
        #
        # Engaged from round 2 only (r14): the neighbor-min SEED is
        # already a full plain round, so a round-1 jump only reaches
        # farther than the plain step on diameter >= 3 components —
        # while its join costs two exchanges on EVERY graph, including
        # the common near-dup case (cliques/short chains) where round 1
        # is purely the convergence confirm (measured at sf0.1: the
        # loop exits after round 1, jump or no jump). Deep graphs keep
        # O(log d) rounds (at most one extra plain round up front); the
        # fixpoint — and therefore the output — is unchanged either way.
        if it == 0:
            labels = barrier(stepped)
        else:
            l2 = stepped.select(
                F.col("id").alias("__cid"), F.col("comp").alias("__cc")
            )
            labels = barrier(
                stepped.join(l2, stepped["comp"] == l2["__cid"], "left")
                .select(
                    "id",
                    F.coalesce(
                        F.least(F.col("comp"), F.col("__cc")), F.col("comp")
                    ).alias("comp"),
                )
            )
        cur_sum = labels.agg(F.sum("comp")).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # with pointer-jumping, max_iter rounds cover diameter 2^max_iter
        # so exhaustion is theoretical — but if it happens the labels are
        # a WRONG ANSWER (components under-merged), which must be
        # observable, not silent (round-9 verdict latent #3)
        import warnings

        warnings.warn(
            f"connected_components: label sum still changing after "
            f"max_iter={max_iter} iterations — labels are NOT a fixpoint "
            f"(components may be under-merged); raise max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    num_partitions: int | None = None,
) -> DataFrame:
    """Cluster rollup over a near-dup pair list: (comp, n_members) with
    ``comp`` = the cluster's canonical (minimum) member id."""
    cc = connected_components(pairs, id_a, id_b, num_partitions=num_partitions)
    return cc.groupBy("comp").agg(F.count(F.lit(1)).alias("n_members"))


def pagerank_exact(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
    num_partitions: int | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank in exact integer micro-units: rank(n) =
    150000 + floor(850 * Σ_in floor(rank(s)/deg(s)) / 1000), starting
    from 1e6 per node (damping 0.85 as the 850/1000 integer pair).

    Every step is integer floor arithmetic, so any engine replays the
    ranks bit-exactly — which is what makes an *iterative* operator
    oracle-checkable at all (float PageRank diverges across engines in
    the last ulps). Dangling-node mass is dropped (documented choice;
    ranks are a relative ordering, not a distribution).

    Scale shape: the loop body is one join (ranks ⋈ edges on src) + one
    sum by dst + one left join back onto the node set — all shuffles on
    the node id, partitioning reused across iterations. The edge
    derivation (often a window over the raw corpus) materializes ONCE
    behind a barrier — without it the unrolled plan re-derives edges
    in every iteration's every join — and each iteration's ranks are
    checkpointed to keep the lineage flat (the standard Spark fixpoint
    discipline, same as connected_components).
    """
    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d")).distinct()
    if num_partitions:
        # node sets are usually orders smaller than the corpus that
        # produced the edges; explicit sizing avoids paying per-iteration
        # task overhead on near-empty shuffle partitions (same knob as
        # connected_components)
        e = e.repartition(num_partitions, "__s")
    e = barrier(e)
    # out-degree attached to the edge rows ONCE via a window count over
    # the src key the frame is already partitioned on (r14): the loop
    # body loses its per-iteration deg equi-join — one join per round
    # instead of two, same integers (count of distinct out-edges)
    from pyspark.sql import Window as _W

    e_deg = barrier(
        e.withColumn("__deg", F.count(F.lit(1)).over(_W.partitionBy("__s")))
    )
    nodes = barrier(
        e.select(F.col("__s").alias("id"))
        .union(e.select(F.col("__d").alias("id")))
        .distinct()
    )
    ranks = nodes.withColumn("rank", F.lit(1_000_000).cast("long"))
    for _ in range(iterations):
        contrib = (
            ranks.join(e_deg, ranks.id == e_deg.__s)
            .select(
                F.col("__d").alias("id"),
                # true integer division (`div`), NOT floor(a / b): `/` is
                # IEEE double division, and floor of the rounded double
                # diverges from the integer recurrence once a*850
                # exceeds 2^53 (hot nodes at real graph scale)
                F.expr("rank div __deg").cast("long").alias("__c"),
            )
            .groupBy("id")
            .agg(F.sum("__c").alias("__in"))
        )
        ranks = barrier(
            nodes.join(contrib, "id", "left")
            .select(
                "id",
                (
                    F.lit(150_000)
                    + F.expr("(coalesce(__in, 0L) * 850) div 1000")
                ).cast("long").alias("rank"),
            )
        )
    return ranks


def canonical_representatives(
    pairs: DataFrame,
    quality: DataFrame,
    id_col: str = "id",
    quality_col: str = "quality",
    id_a: str = "id_a",
    id_b: str = "id_b",
    num_partitions: int | None = None,
) -> DataFrame:
    """Pick which document survives each near-dup cluster: connected
    components over the pair list, then the highest-``quality`` member
    wins (ties -> lowest id). Returns ``(comp, keep_id, n_members,
    n_dropped)`` — the curation decision record a dedup pipeline feeds
    to its filter stage. Documents in no pair are implicit singletons
    (kept; not emitted here).

    Scale shape: the component set is bounded by the clustered docs
    (≪ corpus); the quality join is an equi-join on the id, and the
    representative choice + size rollup share ONE shuffle on ``comp``
    (the window and the groupBy use the same key, so Catalyst reuses
    the partitioning).
    """
    from pyspark.sql import Window

    cc = connected_components(pairs, id_a, id_b, num_partitions=num_partitions)
    q = quality.select(
        F.col(id_col).alias("id"), F.col(quality_col).alias("__q")
    )
    j = cc.join(q, "id", "left")
    w = Window.partitionBy("comp").orderBy(F.desc("__q"), F.asc("id"))
    return (
        j.withColumn("__rn", F.row_number().over(w))
        .groupBy("comp")
        .agg(
            F.max(F.when(F.col("__rn") == 1, F.col("id"))).alias("keep_id"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .withColumn("n_dropped", F.col("n_members") - F.lit(1))
    )


def triangle_counts(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Global triangle enumeration over an undirected edge list
    (upper-triangle convention ``id_a < id_b`` enforced internally):
    returns one row per triangle ``(a, b, c)`` with ``a < b < c``.

    The classic two-join formulation: wedges = edges(a,b) ⋈ edges(b,c)
    on the middle node, closed by a semi-join of (a,c) against the edge
    list. Each triangle is emitted exactly once because every join step
    preserves the ``<`` order. Both joins are equi-joins on node ids —
    shuffle-partitioned, AQE skew-splits hub nodes; at 100 TB the
    standard refinement (orienting edges by degree so wedges pivot on
    the LOW-degree endpoint) drops hub blowup and slots into the same
    two-join plan. Output is bounded by the true triangle count —
    like duplicate-span detection, no quadratic-in-cluster pair
    inflation beyond what the answer itself contains.
    """
    e = edges.select(
        F.least(F.col(id_a), F.col(id_b)).alias("a"),
        F.greatest(F.col(id_a), F.col(id_b)).alias("b"),
    ).distinct()
    wedges = e.alias("x").join(
        e.alias("y"), F.col("x.b") == F.col("y.a")
    ).select(
        F.col("x.a").alias("a"), F.col("x.b").alias("b"), F.col("y.b").alias("c")
    )
    # the USING-style semi-join moves its keys first (a, c, b) — restore
    # the a < b < c reading order
    return wedges.join(
        e.select(F.col("a").alias("a"), F.col("b").alias("c")),
        ["a", "c"],
        "semi",
    ).select("a", "b", "c")


def component_census(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-cluster structure census for near-dup graphs: ``(comp,
    n_members, n_edges, n_triangles, is_clique)``. Tight cliques are
    true duplicate families (every member pairwise-similar — safe to
    keep one); sparse chains are similarity DRIFT (A~B~C with A!~C —
    the transitive closure over-merges, keep-one loses real content).
    ``is_clique`` pins the distinction exactly: n_edges == C(n,2) and
    n_triangles == C(n,3).

    One CC fixpoint + two broadcast-sized joins of edges/triangles onto
    their component labels; all aggregates map-side combinable.
    """
    # one barrier before the three-way fan-out (components, edge counts,
    # triangles) — without it the often-expensive pair pipeline above
    # `edges` re-evaluates once per consumer
    e = barrier(
        edges.select(
            F.least(F.col(id_a), F.col(id_b)).alias("a"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("b"),
        ).distinct()
    )
    cc = connected_components(e, "a", "b", num_partitions=num_partitions)
    members = cc.groupBy("comp").agg(F.count(F.lit(1)).alias("n_members"))
    ecnt = (
        e.join(cc.withColumnRenamed("id", "a"), "a")
        .groupBy("comp")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )
    tris = triangle_counts(e, "a", "b")
    tcnt = (
        tris.join(cc.withColumnRenamed("id", "a"), "a")
        .groupBy("comp")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    n = F.col("n_members")
    return (
        members.join(ecnt, "comp", "left")
        .join(tcnt, "comp", "left")
        .select(
            "comp",
            "n_members",
            F.coalesce("n_edges", F.lit(0)).alias("n_edges"),
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
        )
        .withColumn(
            "is_clique",
            (
                (F.col("n_edges") == n * (n - 1) / 2)
                & (F.col("n_triangles") == n * (n - 1) * (n - 2) / 6)
            ).cast("int"),
        )
    )


def hits_scores(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
    num_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Fixed-iteration HITS (Kleinberg 1999, "Authoritative sources in
    a hyperlinked environment") over a bipartite/directed edge set in
    exact integer micro-units: per iteration auth(d) = Σ_{s→d} hub(s)
    then hub(s) = Σ_{s→d} auth(d), each half-step rescaled to max 1e6
    via ``(r * 1e6) div max(r)`` — scores are NONNEGATIVE throughout,
    so truncating (Spark ``div``) and flooring (DuckDB ``//``) division
    agree, the same trick that keeps PageRank above oracle-replayable.

    Rescaling by the max (not the L2 norm — sqrt would break integer
    exactness) bounds every raw sum by 1e6 * max_degree < 2^63 for any
    real graph, and preserves the score ORDERING, which is what HITS
    is consumed for (top hubs / top authorities).

    Scale shape mirrors :func:`pagerank_exact`: the loop body is two
    node-keyed join+sum pairs plus a one-row max broadcast back into
    the expression; edges materialize once (barrier) and each
    half-step's scores are barriered so the unrolled lineage stays
    flat. Returns (hubs, authorities) as (id, hub) / (id, auth).
    """
    if iterations < 1:
        # auth is seeded inside the loop; zero iterations would leave
        # it None and crash on the final select — make that explicit
        raise ValueError(f"hits_scores needs iterations >= 1, got {iterations}")
    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d")).distinct()
    if num_partitions:
        e = e.repartition(num_partitions, "__s")
    e = barrier(e)
    hubs = (
        e.select(F.col("__s").alias("id"))
        .distinct()
        .withColumn("h", F.lit(1_000_000).cast("long"))
    )
    auth = None
    for _ in range(iterations):
        # each half-step's join+sum is barriered BEFORE the max rescale
        # (r14): the raw-sum frame is read twice — once to build the
        # one-row max broadcast and once in the rescale projection —
        # and without the barrier the join+aggregate executed twice per
        # half-step (the broadcast build is its own job)
        araw = barrier(
            hubs.join(e, hubs.id == e.__s)
            .groupBy("__d")
            .agg(F.sum("h").alias("__r"))
        )
        amax = araw.agg(F.max("__r").alias("__m"))
        auth = barrier(
            araw.crossJoin(F.broadcast(amax)).select(
                F.col("__d").alias("id"),
                F.expr("(__r * 1000000) div __m").cast("long").alias("a"),
            )
        )
        hraw = barrier(
            auth.join(e, auth.id == e.__d)
            .groupBy("__s")
            .agg(F.sum("a").alias("__r"))
        )
        hmax = hraw.agg(F.max("__r").alias("__m"))
        hubs = barrier(
            hraw.crossJoin(F.broadcast(hmax)).select(
                F.col("__s").alias("id"),
                F.expr("(__r * 1000000) div __m").cast("long").alias("h"),
            )
        )
    return hubs.select("id", F.col("h").alias("hub")), auth.select(
        "id", F.col("a").alias("auth")
    )


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
    num_partitions: int | None = None,
) -> DataFrame:
    """Fixed-round k-core peeling (Seidman 1983; the distributed
    peel loop of Montresor et al. 2013): symmetrize the edge set,
    then ``rounds`` times remove every node whose current degree is
    below ``k`` together with its incident edges. After enough rounds
    the survivors are exactly the k-core (maximal subgraph with all
    degrees >= k); a FIXED round count keeps the loop an unrollable,
    engine-replayable recurrence — the same contract as
    :func:`pagerank_exact` (each round is pure integer counting, so
    the oracle unrolls it as CTEs and hash-matches).

    Scale shape per round: one hash aggregate on the node key (degree
    count) + two semi-joins of the edge set against the surviving
    nodes — all keyed by node id; the edge frame is barriered each
    round so the unrolled lineage stays flat.

    Returns surviving (id, degree) after ``rounds`` peels — degree is
    the count within the surviving subgraph.
    """
    if k < 1 or rounds < 1:
        raise ValueError(f"kcore_peel needs k >= 1 and rounds >= 1, got {k=} {rounds=}")
    # symmetrize + dedup: degree = number of distinct neighbors
    fwd = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e = (
        fwd.unionByName(fwd.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    if num_partitions:
        e = e.repartition(num_partitions, "a")
    e = barrier(e)
    for _ in range(rounds):
        deg = e.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.filter(F.col("d") >= k).select("a")
        e = barrier(
            e.join(keep, "a")
            .join(keep.select(F.col("a").alias("b")), "b")
            .select("a", "b")
        )
    return (
        e.groupBy("a")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(F.col("a").alias("id"), F.col("degree").cast("long").alias("degree"))
    )


def label_propagation(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    rounds: int = 3,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al., 2007) made fully deterministic: every node starts labeled with
    its own id; each round every node adopts its neighbors' MOST
    FREQUENT label, ties broken by the SMALLEST label; isolated
    updates happen simultaneously (synchronous schedule) for a fixed
    ``rounds`` count so the recurrence is engine-replayable (an
    oracle can unroll it) — the same fixed-round determinism contract
    as kcore_peel and hits_scores.

    Distinct from connected_components: CC merges everything reachable
    (one bridge edge fuses two dense near-dup families); LPA keeps
    densely-connected cores separate when the bridge is outvoted — the
    community structure a curation pass wants when deciding what
    "one duplicate cluster" means.

    Plan per round: one edge⋈label join (labels keyed by node id), one
    (node, label) count aggregate, one arg-max-by-(count desc, label
    asc) — all shuffle-partitioned on node id; at 100 TB the label
    frame is the only iterated state (nodes, not edges) and the edge
    frame is reused as scanned. Rounds are O(diameter-ish) small
    constants in practice (communities stabilize in 3-5 sweeps).

    No convergence check BY DESIGN (unlike :func:`connected_components`,
    which warns on max_iter exhaustion): LPA's output is defined as
    "labels after exactly ``rounds`` synchronous sweeps" — synchronous
    LPA can 2-cycle forever on bipartite-ish graphs, so a fixpoint test
    would be wrong to demand, and the fixed count is what lets an
    oracle unroll the recurrence.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    fwd = edges.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    und = (
        fwd.unionByName(fwd.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # materialize the (often expensive) edge pipeline ONCE (r14):
        # without the barrier the un-truncated plan carries the edge
        # derivation (an LSH mining pass for lpa_communities) in the
        # node-set branch AND every round's message join — the same
        # barrier discipline as connected_components/kcore_peel
        .transform(barrier)
    )
    nodes = und.select(F.col("a").alias("id")).distinct()
    labels = nodes.select("id", F.col("id").alias("label"))
    for _ in range(rounds):
        msgs = und.join(
            labels.select(F.col("id").alias("b"), "label"), "b"
        ).select(F.col("a").alias("id"), "label")
        votes = msgs.groupBy("id", "label").agg(F.count(F.lit(1)).alias("n"))
        # arg-max by (count desc, label asc) as a single max over a
        # sortable struct: max (n, -label) then recover label
        labels = (
            votes.groupBy("id")
            .agg(F.max(F.struct(F.col("n"), (-F.col("label")).alias("neg"))).alias("m"))
            .select("id", (-F.col("m.neg")).alias("label"))
        )
    return labels.select(
        F.col("id").cast("long").alias("id"),
        F.col("label").cast("long").alias("label"),
    )
