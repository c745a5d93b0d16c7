"""Connected components over near-duplicate pair edges — the step that
turns pairwise dedup output into dedup GROUPS (pick one survivor per
cluster of transitively-linked near-dups).

Two distributed algorithms, selectable per workload shape:

- ``label_prop`` (default): iterative min-label propagation (each vertex
  repeatedly adopts the smallest label among itself and its neighbors)
  until fixpoint. Every iteration is one equi-join + one groupBy keyed on
  vertex id, converging in O(component diameter) rounds — the right cost
  model for near-dup clusters, which are shallow (dup fans, not paths).
- ``two_star``: the large-star/small-star algorithm (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC'14), converging in
  O(log^2 n) rounds independent of diameter. Each round is the same
  join/groupBy cost but the round COUNT no longer depends on the graph:
  the safety valve for adversarial long-chain graphs (linked boilerplate
  runs, URL redirect chains) where diameter-bound propagation would take
  hundreds of rounds at 100 TB.

Driver involvement per round is a single converged-check count — no
collect of vertex data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def _checkpoint_tracked(df: DataFrame):
    """``localCheckpoint(eager=True)`` plus the RDD id of the block set
    backing it, so iterative loops can FREE a superseded round's blocks
    deterministically (``_free_checkpoint``) instead of waiting for
    Python GC → py4j detach → JVM GC → ContextCleaner — a chain that can
    leave many rounds' label sets resident at once on a long propagation
    (r7 review finding). The id is recovered by diffing the persistent-RDD
    map around the checkpoint; if the diff is not exactly one id (another
    thread persisted concurrently), attribution is skipped and that round
    is left to the GC path — never free a block we can't attribute."""
    sc = df.sparkSession.sparkContext
    before = {int(i) for i in sc._jsc.getPersistentRDDs().keySet()}
    out = df.localCheckpoint(eager=True)
    after = {int(i) for i in sc._jsc.getPersistentRDDs().keySet()}
    new_ids = after - before
    return out, (next(iter(new_ids)) if len(new_ids) == 1 else None)


def _free_checkpoint(df: DataFrame, rdd_id: int | None) -> None:
    """Drop a superseded checkpoint's blocks (async, non-blocking)."""
    if rdd_id is None:
        return
    jr = df.sparkSession.sparkContext._jsc.getPersistentRDDs().get(rdd_id)
    if jr is not None:
        jr.unpersist(False)


def _two_star_components(
    edges: DataFrame, max_iter: int, n_edges: int | None = None
) -> DataFrame:
    """Large-star/small-star rounds over a persisted symmetric edge set;
    returns (id, component) with component = the component's min vertex.

    State between rounds is the CANONICAL edge set (a > b, distinct).
    Large-star hangs every strictly-larger neighbor of u off m(u) =
    min(N(u) ∪ {u}); small-star re-parents u and its smaller neighbors
    onto their minimum. At fixpoint the graph is a forest of depth-1
    stars rooted at each component's minimum — labels read off the edges
    with no further propagation. Convergence is detected by an
    order-insensitive fingerprint (count + two xxhash64 sums), one 1-row
    aggregate per round.

    Lineage is TRUNCATED every round with an eager localCheckpoint:
    each round's plan references the previous round's edge set twice
    (both orientations), so carrying lineage would double the analyzed
    tree per round — exponential by round 12 even though the data is
    tiny. A persist caches data but not the plan; checkpointing is the
    correct tool for iterative graph algorithms on Spark."""
    # canonical orientation (a > b), from the symmetric input; rounds are
    # right-sized to the edge count like the label_prop path (near-dup
    # edge sets are tiny next to the corpus partitioning they inherit)
    cur = edges.filter(F.col("a") > F.col("b")).distinct()
    if n_edges is not None:
        width = max(
            1, min(edges.rdd.getNumPartitions(), n_edges // 1_000_000 + 1)
        )
        cur = cur.repartition(width, "a")
    cur, prev_ckpt_id = _checkpoint_tracked(cur)
    prev_fp = None
    for _ in range(max_iter):
        # -- large-star: m(u) over the FULL neighborhood ----------------
        sym = cur.select("a", "b").union(cur.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = (
            sym.groupBy("a")
            .agg(F.min("b").alias("mb"))
            .select("a", F.least("a", "mb").alias("m"))
        )
        large = (
            sym.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .distinct()
        )
        # -- small-star: m over the smaller-or-equal neighborhood -------
        smins = large.groupBy("a").agg(F.min("b").alias("m"))
        small = (
            large.join(smins, "a")
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("b").alias("a"), F.col("m").alias("b")),
                        F.struct(F.col("a"), F.col("m").alias("b")),
                    )
                ).alias("e")
            )
            .select("e.a", "e.b")
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        small, ckpt_id = _checkpoint_tracked(small)
        # this round is materialized — free the superseded round's blocks
        _free_checkpoint(small, prev_ckpt_id)
        prev_ckpt_id = ckpt_id
        fp = small.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal(38,0) sums: hash fingerprints can't hit ANSI long
            # overflow no matter the edge count
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h1"),
            F.sum(F.xxhash64("b", "a", F.lit(7)).cast("decimal(38,0)")).alias("h2"),
        ).collect()[0]
        fp = (fp.n, fp.h1, fp.h2)
        cur = small
        if fp == prev_fp:
            # Fixpoint candidate. Both operators preserve connectivity,
            # so if the stable state is a star forest (every child has
            # exactly one parent and no parent is itself a child), each
            # star is exactly one original component rooted at its min.
            not_star = (
                cur.groupBy("a").count().filter(F.col("count") > 1).limit(1).count()
                or cur.alias("x")
                .join(cur.alias("y"), F.col("x.a") == F.col("y.b"), "left_semi")
                .limit(1)
                .count()
            )
            if not not_star:
                break
        prev_fp = fp
    else:
        raise RuntimeError(
            f"two_star did not converge within {max_iter} rounds"
        )
    # fixpoint: stars (child > root). Roots only ever appear as b.
    # Vertices whose ONLY edges were self-loops vanished at the a > b
    # canonicalization — re-emit them as their own singleton components
    # (label_prop and the local union-find both keep them).
    singletons = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .join(
            cur.select(F.col("a").alias("id"))
            .union(cur.select(F.col("b").alias("id")))
            .distinct(),
            "id",
            "left_anti",
        )
        .select("id", F.col("id").alias("component"))
    )
    labels = (
        cur.select(F.col("a").alias("id"), F.col("b").alias("component"))
        .union(
            cur.select(F.col("b").alias("id"), F.col("b").alias("component"))
        )
        .union(singletons)
        .distinct()
    )
    # (checkpoint blocks from intermediate rounds are released by the
    # ContextCleaner once their DataFrames are garbage-collected)
    return labels.localCheckpoint(eager=True)


def connected_components(
    pairs: DataFrame,
    src: str = "d1",
    dst: str = "d2",
    max_iter: int = 20,
    local_threshold: int = 1_000_000,
    algorithm: str = "label_prop",
) -> DataFrame:
    """(id, component) for every vertex appearing in ``pairs``; component
    is the minimum vertex id reachable from it.

    Adaptive execution: the edge count is measured once (it already was,
    for iteration-width sizing); at or below ``local_threshold`` edges the
    closure runs as a driver-side union-find on the collected edge list —
    the same result, without N rounds of join+groupBy job overhead (the
    rounds dominate cold-JVM cost: measured ~10 s for a 512-edge graph).
    This is the AQE move — swap the physical strategy when the measured
    input is small — with the memory bound explicit: 1M edges ≈ tens of
    MB on the driver. Above the threshold, distributed min-label
    propagation runs as before; near-dup graphs from 100 TB corpora take
    that path.

    ``algorithm`` selects the distributed strategy above the threshold:
    ``label_prop`` (default — O(diameter) rounds, right for shallow
    dup clusters) or ``two_star`` (O(log^2 n) rounds regardless of
    diameter — the safety valve for long-chain graphs).

    Storage hygiene: each iteration persists its labels and unpersists the
    previous iteration's — a long-lived session doesn't accumulate blocks
    (iterative jobs that leak persisted state are a classic cluster-memory
    killer). The returned frame is localCheckpointed so downstream plans
    don't re-analyze the whole iteration chain."""
    from pyspark.storagelevel import StorageLevel

    # Symmetrize map-side (explode of the two orientations), NOT via
    # pairs.union(pairs-swapped): a union's branches each re-execute the
    # whole upstream pair-generation pipeline (minhash, verify joins...)
    # when `pairs` isn't cached — one explode runs it once.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                    F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)  # reused every iteration
    )
    # Right-size the iteration parallelism to the EDGE count, not the
    # upstream pair-pipeline's partitioning: near-dup edge sets are tiny
    # relative to the corpus (512 edges from 25k docs at sf0.1), and each
    # propagation round otherwise pays full-width task-scheduling
    # overhead (measured 1.5 s/round at 32 tasks for those 512 edges).
    # ~1M edges per partition keeps rounds wide on genuinely big graphs.
    n_edges = edges.count()  # also materializes the persist before looping
    if n_edges <= local_threshold:
        spark = pairs.sparkSession
        id_type = edges.schema["a"].dataType
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        # One collect job, not toLocalIterator: the iterator form runs one
        # Spark job PER PARTITION (32 jobs for a 512-edge graph — pure
        # scheduling overhead), while the memory bound is identical — the
        # local path is only taken at <= local_threshold edges, which is
        # sized to fit the driver comfortably either way.
        for row in edges.collect():
            ra, rb = find(row[0]), find(row[1])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        rows = [(x, find(x)) for x in parent]
        edges.unpersist()
        schema = StructType(
            [StructField("id", id_type), StructField("component", id_type)]
        )
        return spark.createDataFrame(rows, schema)
    if algorithm == "two_star":
        try:
            return _two_star_components(edges, max_iter, n_edges)
        finally:
            edges.unpersist()
    if algorithm != "label_prop":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    width = max(1, min(edges.rdd.getNumPartitions(), n_edges // 1_000_000 + 1))
    if width < edges.rdd.getNumPartitions():
        narrow = edges.repartition(width, "b").persist(StorageLevel.MEMORY_AND_DISK)
        narrow.count()
        edges.unpersist()
        edges = narrow
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    prev_ckpt_id = None
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.b == labels.id)
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("component").alias("nmin"))
        )
        # Lineage TRUNCATED per round (eager localCheckpoint), exactly
        # like _two_star_components: each round references `labels`
        # twice (the neighbor_min join and the left join), so a persist
        # alone — which caches DATA but not the analyzed PLAN — doubles
        # the plan tree every round. Measured: 6.9 GB of Catalyst
        # TreeNodes by round 7 on an ELEVEN-edge graph, OOMing an 8 GB
        # driver (the r7 full-suite failure). Old checkpoint blocks are
        # reaped by the ContextCleaner as rounds drop their references.
        updated, ckpt_id = _checkpoint_tracked(
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("nmin", F.col("component"))
                ).alias("component"),
                (F.coalesce("nmin", F.col("component")) < F.col("component")).alias(
                    "__chg"
                ),
            )
        )
        changed = updated.filter(F.col("__chg")).limit(1).count()
        # the new round is materialized — the previous round's blocks are
        # dead weight; free them now rather than at GC time
        _free_checkpoint(updated, prev_ckpt_id)
        prev_ckpt_id = ckpt_id
        labels = updated.drop("__chg")
        if changed == 0:
            break
    else:
        # Silent non-convergence would hand back WRONG components (labels
        # mid-propagation look plausible). A graph deeper than max_iter
        # is exactly the long-chain shape the diameter-independent
        # algorithm exists for — say so.
        edges.unpersist()
        raise RuntimeError(
            f"label_prop did not converge within {max_iter} rounds; "
            "this graph is deeper than the near-dup assumption — rerun "
            "with algorithm='two_star' (O(log^2 n) rounds)"
        )
    edges.unpersist()
    return labels


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iterations: int = 8,
    scale: int = 10**9,
    damping: int = 85,
) -> DataFrame:
    """Weighted PageRank in EXACT integer arithmetic — (node, r) after a
    fixed number of iterations, with ranks in units of ``1/scale``.

    The host-graph quality-ranking step of web-corpus curation (rank
    domains by weighted link structure, keep the head): every operation
    is integer (contributions are ``(r·w) DIV W_out``, the damping mix is
    ``(100-d)·scale DIV 100 + d·contrib DIV 100``), so partial-aggregation
    order cannot perturb a single bit — the result is layout-independent
    and any engine replays it exactly (the registry oracle unrolls the
    iterations as chained CTEs).

    Scale shape: multi-edges collapse in one groupBy; the per-iteration
    cost is one equi-join (ranks × edges on src) + one grouped sum on dst
    — both keyed shuffles, no all-pairs anywhere.  Lineage is truncated
    per iteration (localCheckpoint) so the plan stays O(1) deep — the
    two-star lesson.  Dangling mass (nodes without out-edges) is dropped,
    not redistributed: deterministic, documented, and harmless for
    ranking use.  int64 bounds: ``r·w`` must stay under 2^63 (pre-scale
    huge weights), and a node's summed contribution is bounded by the
    total system mass ``n_nodes·scale`` — at ~1e9 nodes drop ``scale``
    to 1e6 so ``damping·contrib`` cannot overflow.
    """
    spark = edges.sparkSession
    w = F.col(weight).cast("long") if weight else F.lit(1).cast("long")
    # Build the fixed-iteration chain WITHOUT per-round adaptive
    # re-planning: under AQE every localCheckpoint (even a lazy one)
    # materializes each exchange as its own job — 8+ driver round-trips
    # per iteration of pure scheduling overhead (measured 67 jobs for 8
    # iterations; guide §1.2/§2.4).  The iteration's join/agg keys and
    # widths are FIXED by construction (ranks and contributions are both
    # keyed on the node id), so runtime re-planning has nothing to decide
    # per round.
    #
    # The AQE toggle lives on an ISOLATED ``newSession()`` (same
    # SparkContext, own SQLConf) so a query PLANNED CONCURRENTLY by the
    # shared session — the serving facade's thread pool, a parallel
    # bench entry — never loses adaptivity (r14 verdict: a conf flip on
    # the shared session is a concurrency hazard).  The input plan
    # crosses sessions through a uniquely-named global temp view; the
    # checkpointed RDDs backing the chain live in the shared context, so
    # nothing is recomputed and the returned frame executes fine from
    # the caller.
    from polars_lake_spark.session import isolated_session

    iso = isolated_session(spark)
    iso.conf.set("spark.sql.adaptive.enabled", "false")
    import uuid

    vname = f"__plsg_pr_{uuid.uuid4().hex}"
    edges.createOrReplaceGlobalTempView(vname)
    try:
        edges_iso = iso.table(f"global_temp.{vname}")
        e = edges_iso.groupBy(src, dst).agg(F.sum(w).alias("w"))
        outw = e.groupBy(src).agg(F.sum("w").alias("wout"))
        e = (
            e.join(outw, src)
            .select(F.col(src).alias("u"), F.col(dst).alias("v"), "w", "wout")
            .localCheckpoint(eager=True)
        )
        nodes = (
            e.select(F.col("u").alias("node"))
            .union(e.select(F.col("v").alias("node")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # Scale-adaptive loop width (guide §2: derive partitioning from
        # input size, not a constant): with AQE off nothing coalesces the
        # per-iteration exchanges, so size them from the COLLAPSED edge
        # count — ~1M edge rows (~100 MB) per partition, capped at the
        # cluster-sized conf.  e is already checkpointed, so the count is
        # one tiny job; the integer fixpoint is layout-independent by
        # construction, so the width never changes a bit of the result.
        n_edges = e.count()
        cap = int(iso.conf.get("spark.sql.shuffle.partitions"))
        width = max(1, min(cap, -(-n_edges // 1_000_000)))
        iso.conf.set("spark.sql.shuffle.partitions", str(width))
        return _pagerank_loop(e, nodes, iterations, scale, damping)
    finally:
        spark.catalog.dropGlobalTempView(vname)


def _pagerank_loop(
    e: DataFrame, nodes: DataFrame, iterations: int, scale: int, damping: int
) -> DataFrame:
    ranks = nodes.select("node", F.lit(int(scale)).cast("long").alias("r"))
    base = (100 - damping) * scale // 100
    for _ in range(iterations):
        contrib = (
            e.join(ranks, e.u == ranks.node)
            .select(F.col("v").alias("node"), F.expr("(r * w) DIV wout").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(f"({damping} * coalesce(c, 0)) DIV 100")
                ).cast("long").alias("r"),
            )
            # LAZY checkpoint: the Catalyst plan is truncated identically
            # (O(1) depth per round) but no per-iteration result job is
            # scheduled — with a FIXED iteration count there is no
            # convergence check to force a round boundary, so the whole
            # propagation materializes under the caller's single action
            # (guide §1.2: remove driver round-trips / passes).  Blocks
            # still cache on first compute, so nothing is recomputed.
            .localCheckpoint(eager=False)
        )
    return ranks
