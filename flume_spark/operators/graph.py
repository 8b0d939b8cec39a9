"""Graph analytics over edge tables — PageRank as bounded driver-loop
iterations (the connected_components / kmeans pattern: per round one
partial-agg shuffle, only scalars cross the driver).

No reference analog (the reference processes no graphs); engine-native
per the LLM-pipeline/scale mandate.

Scale shape per iteration: ranks live distributed keyed by vertex;
contributions = ranks ⋈ edges on src (one equi-join, shuffle bounded by
|E|), grouped by dst (one partial-agg shuffle).  Nothing vertex- or
edge-sized ever reaches the driver — only the dangling-mass and delta
scalars.  At 100 TB-scale graphs the same loop runs with edges bucketed
by src so the per-iteration join is exchange-free on the edge side
(exactly the band-index treatment in operators/dedup.py): persist via
`write_edge_index`, iterate via `pagerank(spark.table(name), ...)` —
the bucket metadata travels with the scan, so EVERY iteration's join
reads the edge side straight from its buckets and only the O(|V|) rank
vector shuffles per round, never the O(|E|) edge table (plan-gated in
test_round5_ops.py).

Determinism: the full iterative ranks are float sums whose partial-agg
order varies — approximate by design (driver records rows-only), gated
by invariant tests (mass conservation, convergence).  The hash-checkable
deterministic core is `pagerank_step_exact`: one step from the uniform
vector with integer micro-contributions (round(1e12/out_degree) as
BIGINT), so every aggregation is an EXACT integer sum — engine-identical
regardless of order, the same trick the repo's cents-exact revenue
queries use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MICRO = 1_000_000_000_000  # 1e12 fixed-point scale for exact contributions


def out_degrees(edges: DataFrame, src: str = "src") -> DataFrame:
    return edges.groupBy(F.col(src).alias("vertex")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )


def write_edge_index(
    edges: DataFrame,
    table_name: str,
    path: str,
    buckets: int = 64,
    src: str = "src",
    dst: str = "dst",
    ingest_batch: int = 0,
) -> None:
    """Persist the edge list in the iteration-ready layout: a table
    bucketed AND sorted by `src` — the band-index treatment
    (operators/dedup.py `write_band_index`) applied to graphs.

    Why: every PageRank iteration joins ranks ⋈ edges on src.  Off a
    plain parquet layout that join re-shuffles the FULL edge table every
    round — at cluster scale, iters × |E| rows moved for a table that
    never changes between rounds.  Bucketed on src, the edge side's scan
    already satisfies the join's required distribution: zero Exchange
    above the edge scan in every iteration — only the O(|V|) rank vector
    moves per round — and `out_degrees`' groupBy(src) rides the same
    layout exchange-free.  Pass `spark.table(table_name)` as `pagerank` /
    `pagerank_k_exact`'s edges — the bucket metadata travels with the
    scan, no special mode needed.

    The stored rows are DECORATED with `out_deg` (each src's out-degree):
    degrees are a static property of the layout, so they're paid once at
    write time and the per-iteration 3-way join (edges ⋈ degs ⋈ ranks)
    collapses to ONE join (edges ⋈ ranks) — both pagerank variants detect
    the column and skip the degs join.

    Growing graphs: `append_edge_index` adds an edge batch (its stored
    out_deg is BATCH-local, i.e. stale as a global degree), and
    `read_edge_index` is the always-correct reader — it re-derives the
    true degree as a bucket-local window count, exchange-free, so
    iteration correctness never depends on compaction having run.
    `compact_edge_index` is the maintenance pass that merges degrees and
    collapses batches back into one snapshot whose STORED out_deg is
    globally correct again (then `spark.table(name)` is equivalent to
    `read_edge_index`).  Reading `spark.table(name)` directly is only
    valid on a never-appended or freshly compacted index.

    Size `buckets` to `spark.sql.shuffle.partitions` (or a divisor): the
    rank vector's aggregates land on that partition count, and matching
    counts is what lets the join co-partition WITHOUT re-shuffling the
    edge-sized side (a 4-bucket scan meeting an 8-partition rank exchange
    re-shuffles one side to align — gated in test_round5_ops.py).

    Same write discipline as the band index: pre-repartition to the
    bucket hash so the write emits exactly `buckets` files, not
    tasks × buckets.  At cluster scale this is a Delta/Iceberg table
    clustered by src; bucket count scales with |E|.
    """
    rows = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    decorated = rows.join(
        out_degrees(rows).withColumnRenamed("vertex", "src"), "src"
    ).withColumn("ingest_batch", F.lit(ingest_batch))
    (
        decorated.repartition(buckets, F.col("src"))
        .write.partitionBy("ingest_batch")
        .bucketBy(buckets, "src")
        .sortBy("src")
        .mode("overwrite")
        .option("path", path)
        .saveAsTable(table_name)
    )


def append_edge_index(
    new_edges: DataFrame,
    table_name: str,
    ingest_batch: int,
    src: str = "src",
    dst: str = "dst",
) -> None:
    """Add an edge batch to an existing edge index WITHOUT rewriting it —
    the incremental story a streaming graph needs (the band-index append
    treatment, `dedup.write_band_index(mode="append")`, applied here).

    The appended rows' stored `out_deg` is the BATCH-local degree — a
    merged global degree cannot be written without reading the whole
    index, which is exactly the full rewrite this path exists to avoid.
    Consumers therefore read a growing index through `read_edge_index`
    (re-derives true degrees bucket-locally) until `compact_edge_index`
    merges the batches; only the two maintenance moments touch
    index-sized data.  `ingest_batch` must be fresh per append (it is the
    replay-exclusion partition key, like the band index's).

    Spark verifies the bucket spec matches the existing table, so the
    append lands in the same src buckets and every reader keeps the
    exchange-free edge side.
    """
    spark = new_edges.sparkSession
    buckets = _table_bucket_count(spark, table_name)
    rows = new_edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    decorated = rows.join(
        out_degrees(rows).withColumnRenamed("vertex", "src"), "src"
    ).withColumn("ingest_batch", F.lit(ingest_batch))
    (
        decorated.repartition(buckets, F.col("src"))
        .write.partitionBy("ingest_batch")
        .bucketBy(buckets, "src")
        .sortBy("src")
        .mode("append")
        .saveAsTable(table_name)
    )


def _table_bucket_count(spark, table_name: str) -> int:
    """The bucket count of a saved table (from the catalog describe)."""
    row = (
        spark.sql(f"DESCRIBE FORMATTED {table_name}")
        .filter(F.col("col_name") == "Num Buckets")
        .first()
    )
    return int(row["data_type"])


def read_edge_index(
    spark,
    table_name: str,
    exclude_batch: int | None = None,
) -> DataFrame:
    """The iteration-ready view of a possibly-appended edge index:
    (src, dst, out_deg) with out_deg ALWAYS globally correct — re-derived
    as a count over a src-partitioned window, which the bucketed scan
    satisfies without an Exchange (degree(src) = row count of src, since
    the index stores each edge once).  Exactly as exchange-free as the
    stored decoration; the only added work is the bucket-local count.

    `exclude_batch` drops one ingest batch by partition filter (pruned at
    the scan) — replay safety for a crashed append, mirroring
    `dedup.read_band_index`."""
    from pyspark.sql.window import Window

    idx = spark.table(table_name)
    if exclude_batch is not None:
        idx = idx.filter(F.col("ingest_batch") != exclude_batch)
    w = Window.partitionBy("src")
    return idx.select(
        "src", "dst", F.count(F.lit(1)).over(w).alias("out_deg")
    )


def compact_edge_index(
    spark, table_name: str, path: str, buckets: int | None = None
) -> int:
    """Degree-merge compaction: collapse every ingest_batch of an edge
    index into one snapshot whose STORED out_deg is globally correct
    again — the band-index swap protocol (`dedup.compact_band_index`)
    with the degree merge added.  After this, `spark.table(name)` and
    `read_edge_index` agree, and per-append file growth (buckets x
    batches) resets to `buckets`.

    Returns the compacted table's file count.  Crash-safety is the same
    staged-table swap: original intact until the DROP, data safe in the
    staging table between DROP and RENAME.
    """
    import time as _time

    staging = f"{table_name}__compacting"
    new_path = f"{path.rstrip('/')}.compact-{int(_time.time() * 1000)}"
    buckets = buckets or _table_bucket_count(spark, table_name)
    old_location = (
        spark.sql(f"DESCRIBE FORMATTED {table_name}")
        .filter(F.col("col_name") == "Location")
        .first()["data_type"]
    )
    # read the files PLAIN (not through the table) so the staging write's
    # repartition-to-buckets survives the planner — the same fragmentation
    # rationale as compact_band_index; stored out_deg is batch-local junk
    # at this point, so only (src, dst) is carried into the rewrite
    rows = spark.read.parquet(old_location).select("src", "dst")
    spark.sql(f"DROP TABLE IF EXISTS {staging}")
    write_edge_index(rows, staging, new_path, buckets=buckets)
    spark.sql(f"DROP TABLE {table_name}")
    spark.sql(f"ALTER TABLE {staging} RENAME TO {table_name}")
    try:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(old_location)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(jpath, True)
    except Exception:
        import warnings

        warnings.warn(
            f"compact_edge_index: could not delete pre-compaction files at "
            f"{old_location} — reclaim manually",
            stacklevel=2,
        )
    return len(spark.table(table_name).inputFiles())


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    damping: float = 0.85,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Standard damped PageRank over a directed edge list.

    Dangling vertices (no out-edges) redistribute their mass uniformly —
    the scalar `dangling_mass / N` is the only per-iteration driver
    value.  Returns (vertex, rank); ranks sum to 1 (invariant-tested).
    """
    verts = (
        edges.select(F.col(src).alias("vertex"))
        .unionByName(edges.select(F.col(dst).alias("vertex")))
        .distinct()
        .cache()
    )
    n = verts.count()
    # an edge-index table (write_edge_index) already stores each src's
    # out-degree — the degs side of the per-iteration join is then the
    # edge table itself, one join instead of two
    has_deg = "out_deg" in edges.columns
    degs = out_degrees(edges, src)
    ranks = verts.withColumn("rank", F.lit(1.0 / n))
    for i in range(iters):
        with_deg = ranks.join(degs, "vertex", "left")
        # mass parked on dangling vertices, redistributed uniformly
        dangling = (
            with_deg.filter(F.col("out_deg").isNull())
            .agg(F.sum("rank"))
            .first()[0]
            or 0.0
        )
        if has_deg:
            contribs = (
                edges.join(
                    ranks.withColumnRenamed("vertex", "rank_v"),
                    F.col(src) == F.col("rank_v"),
                )
                .select(
                    F.col(dst).alias("vertex"),
                    (F.col("rank") / F.col("out_deg")).alias("c"),
                )
                .groupBy("vertex")
                .agg(F.sum("c").alias("inflow"))
            )
        else:
            contribs = (
                with_deg.filter(F.col("out_deg").isNotNull())
                .join(edges, F.col("vertex") == F.col(src))
                .select(
                    F.col(dst).alias("vertex"),
                    (F.col("rank") / F.col("out_deg")).alias("c"),
                )
                .groupBy("vertex")
                .agg(F.sum("c").alias("inflow"))
            )
        base = (1.0 - damping) / n + damping * dangling / n
        ranks = (
            verts.join(contribs, "vertex", "left")
            .select(
                "vertex",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        if (i + 1) % checkpoint_every == 0:
            # truncate lineage like connected_components — each iteration
            # otherwise stacks a join+agg onto an ever-deeper plan
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def pagerank_k_exact(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damp_num: int = 85,
    damp_den: int = 100,
    scale: int = MICRO,
    checkpoint_every: int = 4,
) -> DataFrame:
    """k PageRank steps from the uniform vector in PURE integer arithmetic
    — the multi-step extension of `pagerank_step_exact`, closing the gap
    that the iterated operator had no hash-checkable variant.

    State: R_k(v) ≈ N·rank_k(v) in `scale` units, R_0(v) = scale.  Every
    per-step value is a BIGINT and every rounding is integer
    round-half-up, so the whole k-step fixed point is aggregation-order-
    independent and engine-identical (no float touches the pipeline):

      contribution u→v : (2·R_k(u) + out_deg(u)) div (2·out_deg(u))
      R_{k+1}(v)       : (2·(t·scale + damp_num·inflow(v)) + damp_den)
                          div (2·damp_den),  t = damp_den − damp_num

    (x round-half-up y ≡ (2x + y) div (2y) for positive integers; Spark's
    `div` and DuckDB's `//` both truncate, identical on positives.)

    Same dangling semantics as the 1-step core: vertices without
    out-edges contribute nothing (their mass is dropped, not
    redistributed) — deterministic by construction; the float `pagerank`
    remains the mass-conserving production variant.

    Overflow bound: damp_num · max_inflow · 2 must stay under 2^63;
    max_inflow ≤ total mass ≈ N·scale, so pick scale ≲ 2^62 / (N·damp_num)
    — the default 1e12 supports graphs to ~50k vertices even in the
    all-mass-into-one-vertex worst case, far larger in real graphs where
    per-vertex inflow ≪ total mass.  Quantization error compounds ≤
    (out_deg·0.5 + 0.5)/scale per vertex per step — ~1e-12 relative at
    the default, invisible at the 9dp the float variant reports.

    Iterates the same scale shape as `pagerank` (per step: edge-side
    joins keyed on src — exchange-free off a `write_edge_index` table —
    plus one partial-agg shuffle on dst; lineage checkpointed).  Returns
    (vertex, r_micro).
    """
    teleport = (damp_den - damp_num) * scale
    # an edge-index table (write_edge_index) stores out_deg: the
    # per-iteration 3-way join collapses to edges ⋈ ranks
    decorated = (
        edges
        if "out_deg" in edges.columns
        else edges.join(
            out_degrees(edges, src).withColumnRenamed("vertex", src), src
        )
    )
    verts = (
        edges.select(F.col(src).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("v")))
        .distinct()
    )
    ranks = verts.select("v", F.lit(scale).cast("long").alias("r"))
    for i in range(iters):
        contribs = (
            decorated.join(
                ranks.withColumnRenamed("v", "rank_v"),
                F.col(src) == F.col("rank_v"),
            )
            .select(
                F.col(dst).alias("v"),
                F.expr("(2 * r + out_deg) div (2 * out_deg)").alias("c"),
            )
            .groupBy("v")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = verts.join(contribs, "v", "left").select(
            "v",
            F.expr(
                f"(2 * ({teleport} + {damp_num} * coalesce(inflow, 0))"
                f" + {damp_den}) div (2 * {damp_den})"
            )
            .cast("long")
            .alias("r"),
        )
        if (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(F.col("v").alias("vertex"), F.col("r").alias("r_micro"))


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 8,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Unweighted single/multi-source shortest path (BFS hop count) as a
    driver-bounded frontier loop — the multi-join fixpoint beyond
    PageRank: each hop is frontier ⋈ edges (keyed on src: exchange-free
    off a `write_edge_index` table) followed by an anti-join against the
    settled set, so a vertex is labeled exactly once, at its true BFS
    distance.  Distances are exact integers — hash-checkable against a
    recursive-CTE oracle (min hop per vertex with the same depth cap).

    `sources` is a (v) frame (typically tiny: broadcast side of hop 1).
    Stops early when a frontier empties (the only per-hop driver value is
    that boolean — nothing vertex-sized ever collects); `max_hops` bounds
    the loop AND the oracle's recursion depth, so the two stay equal even
    on graphs with longer diameters.  Per-hop lineage is truncated the
    same way the other iterative operators do it.

    Returns (vertex, dist) for vertices reachable within max_hops,
    sources included at dist 0.
    """
    from pyspark.sql import Observation

    dist = sources.select(F.col(sources.columns[0]).alias("vertex")).distinct()
    dist = dist.withColumn("dist", F.lit(0)).localCheckpoint(eager=True)
    frontier = dist
    for h in range(1, max_hops + 1):
        # One Spark action per hop (round-14): the frontier size rides
        # observe() on the checkpoint job (replacing a separate isEmpty
        # scan), and the settled set stays a LAZY union of the per-hop
        # checkpointed frontiers — re-checkpointing the whole settled set
        # every hop re-materialized O(V) rows per hop for rows that were
        # already checkpoint leaves.
        obs = Observation()
        nxt = (
            frontier.join(edges, frontier["vertex"] == edges[src])
            .select(F.col(dst).alias("vertex"))
            .distinct()
            .join(dist.select("vertex"), "vertex", "left_anti")
            .withColumn("dist", F.lit(h))
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        if obs.get["n"] == 0:
            break
        dist = dist.unionByName(nxt)
        frontier = nxt
    return dist


def sssp_k_exact(
    edges: DataFrame,
    sources: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    checkpoint_every: int = 4,
) -> DataFrame:
    """Bounded Bellman-Ford: exact integer shortest-path distances using
    at most k edges — the WEIGHTED multi-join fixpoint (bfs_hops is the
    hop-count special case).  Each round relaxes every edge once:
    dist ⋈ edges on src (one key-grain shuffle; exchange-free edge side
    off a `write_edge_index`-style layout) then min per dst, unioned with
    the standing distances and min-reduced.  All BIGINT — hash-checkable
    against a recursive-CTE oracle with the same k cap.

    k rounds compute min-cost over paths of ≤ k edges exactly (the
    classic Bellman-Ford invariant), so Spark and an oracle bounded by
    path LENGTH agree even when longer paths are still improving.
    Returns (vertex, dist) for vertices reachable within k edges.
    """
    dist = (
        sources.select(F.col(sources.columns[0]).alias("vertex"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    for i in range(k):
        relaxed = (
            dist.join(edges, dist["vertex"] == edges[src])
            .select(
                F.col(dst).alias("vertex"),
                (F.col("dist") + F.col(weight).cast("long")).alias("dist"),
            )
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("vertex")
            .agg(F.min("dist").alias("dist"))
        )
        # Lineage truncated every `checkpoint_every` rounds — the
        # pagerank_k_exact convention (round-14): a per-round eager
        # checkpoint was one full action + materialization per relaxation,
        # while a bounded lazy chain of join+agg rounds compiles into ONE
        # job.  The cadence INCLUDES the final round (exactly as
        # pagerank_k_exact): skipping it left the whole k-round chain
        # lazy in the returned plan — O(k) exchanges at explain time,
        # tripping the global plan-hygiene cap.
        if (i + 1) % checkpoint_every == 0:
            dist = dist.localCheckpoint(eager=True)
    return dist


def oriented_edges(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    by: str = "degree",
) -> DataFrame:
    """Orient an undirected both-directions edge list so each edge appears
    once, from the endpoint of lower rank — (degree, id) rank when
    by="degree" (the skew-safe default triangle_count uses), bare id when
    by="id" (kept for the probe's A/B and for tests that pin the skew
    argument; see triangle_count's docstring for why id-ordering explodes
    on hubs).  Not materialized here: the caller decides whether the
    oriented list feeds one plan leg or several.

    Returns (x, y): one row per undirected edge, rank(x) < rank(y).
    """
    directed = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    if by == "id":
        return directed.filter(F.col("u") < F.col("v")).select(
            F.col("u").alias("x"), F.col("v").alias("y")
        )
    deg = directed.groupBy("u").agg(F.count(F.lit(1)).alias("du"))
    # The degree frame is vertex-sized: Catalyst broadcasts it when small
    # and AQE falls back to a shuffle join when not — no hand-scheduling.
    return (
        directed.join(deg, "u")
        .join(deg.select(F.col("u").alias("v"), F.col("du").alias("dv")), "v")
        .filter(F.struct("du", "u") < F.struct("dv", "v"))
        .select(F.col("u").alias("x"), F.col("v").alias("y"))
    )


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-vertex triangle counts over an UNDIRECTED graph given as a
    directed edge list (each undirected edge present in both directions,
    the co-purchase convention) — the canonical 3-way self-join shape.

    Plan: orient each undirected edge once, from the endpoint of LOWER
    (degree, id) rank to the higher (kills rotation double-counting),
    then close compact-forward: for each oriented edge (x, y), every
    triangle is exactly one z in N_out(x) ∩ N_out(y) — an adjacency-array
    intersect per edge, so the only expanded rows are the triangles
    themselves, never the wedge candidates (a wedge-join + semi-close
    formulation shuffled 49M candidate rows for 1.9M triangles at sf0.1
    and ran 2x slower).  Degree ordering — not id ordering — is the
    skew-safe choice: every oriented out-degree is bounded by O(√m) (a
    vertex with d out-neighbors has d neighbors of rank ≥ its own, each
    with degree ≥ d, so d² ≤ 2m), which bounds every adjacency array and
    hence the intersect work per edge; under id ordering a hub keeps
    ~deg/2 edges on each side and wedge-style plans explode ~deg²/4 on
    its key (BASELINE.md, "Triangle-orientation skew probe").  Triangles
    are orientation-invariant, so the output is identical either way.  The
    degree frame is vertex-sized: Catalyst broadcasts it when small and
    AQE falls back to a shuffle join when not — no hand-scheduling.  Exact
    integers throughout.

    Input convention: each undirected edge present in BOTH directions
    (the co-purchase shape), so per-src out-degree of the directed list
    IS the undirected degree.

    Returns (vertex, n_tri): triangles through each vertex (each triangle
    counts once per member vertex).
    """
    # Materialize the oriented list once: it feeds THREE plan legs (the
    # edge scan and both adjacency joins), and without staging each leg
    # re-executes the distinct + degree-join subtree (25 exchanges vs 5).
    # Cluster-scale reading: stage the oriented edge list to storage, then
    # run the intersects off it — same move as write_edge_index.
    lo = oriented_edges(edges, src=src, dst=dst).localCheckpoint(eager=True)
    # Compact-forward close: per oriented edge (x, y), every triangle
    # x<y<z (rank order) is exactly one z in N_out(x) ∩ N_out(y).  The
    # out-adjacency arrays are the degree-ordering payoff — every one is
    # bounded O(√m) — so the intersect work per edge is bounded and the
    # only expanded rows are the TRIANGLES themselves (1.9M at sf0.1),
    # never the wedge candidates (49M): the earlier wedge-join + semi-
    # close plan shuffled and sorted all 49M candidate rows and ran 2x
    # slower (5.3s vs 2.6s at sf0.1) with the same output.  The max-rank
    # vertex has no out-edges, hence the left join + empty-array default.
    adj = lo.groupBy("x").agg(F.collect_list("y").alias("nbrs"))
    e2 = (
        lo.join(adj, "x")
        .withColumnRenamed("nbrs", "nx")
        .join(
            adj.select(F.col("x").alias("y"), F.col("nbrs").alias("ny")),
            "y",
            "left",
        )
    )
    tri = e2.select(
        "x",
        "y",
        F.explode(F.array_intersect("nx", F.coalesce("ny", F.array()))).alias("z"),
    )
    # one-pass member fan-out: explode duplicates each triangle row into
    # its 3 member vertices WITHOUT re-executing the close subtree
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("vertex"))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded k-core peeling — the DELETION fixpoint of the graph family
    (bfs/sssp grow a set, peeling shrinks one): each round drops every
    vertex whose degree in the CURRENT subgraph is < k, then recomputes
    degrees.  After enough rounds the survivor set is exactly the k-core
    (maximal subgraph with min degree >= k); a FIXED round budget keeps
    the computation hash-checkable against an oracle that unrolls the
    same rounds as plain SQL (no recursive CTE needed — each round is
    one degree aggregation + two semi-joins, mechanically generated).

    Input convention: both directions present (the co-purchase shape), so
    per-src out-degree is the undirected degree.  Per round: one
    partial-agg shuffle + two semi-joins, lineage truncated per round
    like the other fixpoints; only a stop boolean crosses the driver
    (early exit when a round deletes nothing — the result thereafter
    equals every larger round budget, so Spark and the oracle agree as
    long as the oracle's unroll depth >= the converged depth).

    Returns (vertex, deg): survivors with their in-core degree.
    """
    from pyspark.sql import Observation

    # Round sizes ride observe() on each round's checkpoint job (round-14:
    # the separate count() was a second full action per round — the same
    # convergence-scalar move as connected_components).
    obs0 = Observation()
    live = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n_prev = obs0.get["n"]
    for _ in range(rounds):
        deg = live.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.filter(F.col("d") >= k).select("u")
        obs = Observation()
        live = (
            live.join(keep, "u", "semi")
            .join(keep.select(F.col("u").alias("v")), "v", "semi")
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        n_now = obs.get["n"]
        if n_now == n_prev:
            break  # converged: further rounds are identity
        n_prev = n_now
    return live.groupBy(F.col("u").alias("vertex")).agg(
        F.count(F.lit(1)).alias("deg")
    )


def pagerank_step_exact(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
) -> DataFrame:
    """ONE PageRank step from the uniform vector, in exact integer
    arithmetic: vertex u contributes round(MICRO / out_deg(u)) integer
    micro-units along each out-edge, so the per-vertex inflow is an exact
    BIGINT sum (aggregation-order-independent — hash-checkable), and
    N * rank_1(v) = (1-d) + d * inflow_micro / MICRO exactly as written.

    Quantization error vs the real step is < out_deg * 5e-13 per vertex —
    irrelevant for ranking, decisive for cross-engine determinism.
    Returns (vertex, inflow_micro, n_rank1: rounded N*rank after one step).

    n_rank1 is engine-identical by construction (round-4 ADVICE): the
    teleport term is emitted as the SUBTRACTION (1.0 - damping) — never a
    pre-folded Python literal, which for 0.85 is one ulp off DuckDB's
    parsed `0.15` — and the damped inflow associates as
    ((damping * inflow) / MICRO).  An oracle must spell BOTH the same way:
    round((1.0 - 0.85) + (0.85 * coalesce(inflow_micro, 0))
          / 1000000000000.0, 9)
    IEEE subtraction/multiply/divide are deterministic, so any engine
    evaluating that exact expression tree produces bit-identical doubles.
    """
    degs = out_degrees(edges, src)
    contribs = (
        edges.join(degs, F.col(src) == F.col("vertex"))
        .select(
            F.col(dst).alias("v"),
            F.floor(F.lit(MICRO) / F.col("out_deg") + F.lit(0.5))
            .cast("long")
            .alias("c_micro"),
        )
        .groupBy("v")
        .agg(F.sum("c_micro").alias("inflow_micro"))
    )
    verts = (
        edges.select(F.col(src).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("v")))
        .distinct()
    )
    return (
        verts.join(contribs, "v", "left")
        .select(
            F.col("v").alias("vertex"),
            F.coalesce(F.col("inflow_micro"), F.lit(0)).alias("inflow_micro"),
            F.round(
                (F.lit(1.0) - F.lit(damping))
                + (
                    F.lit(damping)
                    * F.coalesce(F.col("inflow_micro"), F.lit(0)).cast("double")
                )
                / F.lit(float(MICRO)),
                9,
            ).alias("n_rank1"),
        )
    )
