"""J6 geometry dissolve — per-key polygon-union aggregate (SURVEY §2.3).

Reference: ``lake_catalog.read().loc[lake_ids].dissolve(by=...)`` at
/root/reference/atlxi_lake.py:364-375 merges selected lake polygons
into one geometry via geopandas/shapely ``unary_union``; the engine
needs the same "merge geometries per group, drop interior boundaries"
aggregate without shapely.

Spark-first design — a *relational planar overlay*, no geometry
library and no Python in the area path:

1. **edges**: explode each closed ring into directed segments
   (translated to a per-key local origin so the Green's-theorem fold
   below doesn't cancel 1e12-magnitude terms).
2. **crossings**: self-join of edges from different polygons of a key;
   proper segment intersections yield split parameters ``t``, and
   exactly-representable degenerate contacts (T-junctions, endpoints
   of collinear shared runs) split through the endpoint-on-edge
   branch.
3. **sub-edges**: split every edge at its sorted ``t`` list. Endpoint
   arithmetic is pinned (``t=0``/``t=1`` return the original vertex
   bits) so both engines produce identical doubles.
4. **coverage**: each sub-edge midpoint is offset by ±eps along the
   edge normal, scaled by the SUB-edge span (``tb - ta``) so the probe
   stays inside the sub-edge's sliver even when two crossings sit
   close together on a long edge (round-6 fix, was full-edge scale).
   An even-odd ray cast against every POLYGON of the key — ray
   crossings summed over the polygon's rings, then parity, so input
   holes count correctly — classifies each side as inside/outside the
   union.
5. **boundary + area**: a sub-edge lies on the union boundary iff
   exactly one side is covered. Orienting interior-left, the union
   area is the Green's-theorem fold ``sum((ax*by - bx*ay) / 2)`` over
   boundary sub-edges — no ring chaining needed for scalars.
6. **parts**: connected components of the per-key overlap graph.
   Polygons are connected when they properly cross, when one has a
   vertex strictly inside the other (any-vertex test, vertices ON the
   other's boundary excluded — a first-vertex-only test misses
   containment whose first vertex lands on the boundary), or when
   their boundaries share a POSITIVE-LENGTH collinear run (round-6,
   ADVICE r5): shapely ``unary_union`` merges edge-touching polygons
   into one geometry. Touching at isolated points only (corner
   contacts, T-junction vertices) stays two parts — GEOS returns a
   MultiPolygon there, since a single ring may not self-touch.

Physical strategy (round-7, VERDICT r6 task 1): the in-key pair joins
and ray casts have TWO interchangeable plans producing bit-identical
results, selected per call by a cheap per-key edge-count probe
(``strategy="auto"``):

- **plain** — the round-6 shape: pair candidates from an in-key edge
  self-join, ray casts as whole-ring array lambdas. Fewest exchanges;
  right whenever every key's E² pair work fits one task's budget
  (the reference's ≤31 lakes/basin is far inside it).
- **cells** — the hot-key shape, reusing the crossover recipe
  (operators/crossover.py): pair candidates equi-joined on a per-key
  grid cell sized from the longest edge (≤4 cells/edge), hot cells
  salted via the same absolute-budget auto-salt; ray casts equi-join
  probes to candidate RINGS on ring-bbox cells (the gridded-PIP
  recipe — a ring whose bbox excludes the probe crosses its ray an
  EVEN number of times, so per-polygon even-odd over the surviving
  rings is exact) and re-aggregate per ring/polygon. A single hot
  dissolve key (e.g. a continental catalog under one key) spreads
  over many partitions instead of serializing O(E²) into one.

The switch is the same criterion the salt uses: max-per-key E² vs the
per-task pair budget. Both plans shuffle only on equi-keys — never a
cartesian — and the regrouped ray counts are integers, so the oracle
can replay the arithmetic verbatim in SQL on either path.

Scope (round-6, was general-position single-ring only): simple
polygons, optionally with HOLES — pass one row per ring with an
``rid`` column (0 = outer, >0 = hole; omit the column for
single-ring inputs) — including degenerate contacts whose
coordinates are exactly representable (shared edges, partial
collinear overlaps, duplicate rings, vertex-on-edge touches). Rings
of one polygon must not cross each other (standard validity, same as
shapely). ``(pid, rid)`` must identify a ring uniquely. Holes in the
*output* (a union enclosing a void) fall out of the boundary test
naturally.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# per-task pair budget + salt cap, same constants as the crossover's
# _auto_salt (operators/crossover.py) — a key/cell whose own pair work
# exceeds one task's budget is a straggler regardless of siblings
_PAIR_TARGET = 4e6
_SALT_CAP = 64


def _with_rid(polys: DataFrame) -> DataFrame:
    """Back-compat: single-ring inputs carry no ring id — synthesize
    rid=0 (every ring an outer ring)."""
    if "rid" in polys.columns:
        return polys
    return polys.withColumn("rid", F.lit(0).cast("int"))


# total-edge bound under which the plain pair/coverage joins take the
# broadcast-small-side + round-robin-spread plan (r13 optimization
# round, guide §2.5/§7.4 "one task runs 50x longer than the median"):
# the pair arithmetic and ray casts are CPU-bound at near-zero BYTES,
# so AQE's byte-based coalescing collapsed every compute stage to ONE
# task (measured: the whole lake-catalog crossings pass ran on one
# core, 1.8 s vs 0.6 s spread). 500k edge rows ≈ 60 MB framed — inside
# the session's 64 MB auto-broadcast threshold — and the bound is
# probed from the DATA (same job as the strategy probe), so at scale
# the plan falls back to the ordinary co-partitioned key join and the
# broadcast never outgrows an executor.
_SPREAD_EDGE_ROWS = 500_000


def _resolve_strategy(
    polys: DataFrame, key_cols: list[str], strategy: str
) -> tuple[bool, int | None]:
    """(bucketed, spread_n): resolve the physical strategy and the
    plain-mode compute fan-out in ONE probe job.

    ``plain``/``cells`` force the strategy; ``auto`` probes max
    edges-per-key (one tiny scalar job over the ring-length metadata —
    no geometry touched) and picks the bucketed plan iff some key's
    all-pairs work E² exceeds the per-task budget, the same absolute
    criterion the hot-cell salt uses.  The same probe also sums the
    TOTAL edge count: when the whole edge set is broadcast-safe
    (≤ _SPREAD_EDGE_ROWS) the plain pair/coverage joins broadcast the
    build side and round-robin the probe side over ``spread_n``
    partitions, so the CPU-heavy pair arithmetic runs cluster-wide
    instead of on the single task AQE's byte-based sizing would leave
    (spread_n = None ⇒ keep the ordinary co-partitioned key join)."""
    if strategy == "cells":
        return True, None
    if strategy not in ("auto", "plain"):
        raise ValueError(f"dissolve strategy must be auto|plain|cells, got {strategy!r}")
    row = (
        polys.groupBy(*key_cols)
        .agg(F.sum(F.expr("size(xs) - 1")).alias("_n"))
        .agg(F.max("_n").alias("mx"), F.sum("_n").alias("tot"))
        .first()
    )
    mx = int(row["mx"] or 0)
    tot = int(row["tot"] or 0)
    if strategy == "auto" and mx * mx > _PAIR_TARGET:
        return True, None
    spread = (
        polys.sparkSession.sparkContext.defaultParallelism
        if tot <= _SPREAD_EDGE_ROWS
        else None
    )
    return False, spread


def snap_vertices(
    polys: DataFrame,
    key_cols: list[str],
    grid: float | None = None,
    rel: float = 1e-9,
) -> DataFrame:
    """Snap-round every ring vertex to a per-key grid BEFORE the
    overlay — the fp-tolerance pre-pass for degenerate contacts
    (round 7, VERDICT r6 task 3).

    The overlay's exact branches (``cross == 0`` endpoint-on-edge
    splits, collinear-run merges) fire only for contacts at exactly
    representable coordinates; data computed through a lossy transform
    (reprojection, rotation) carries ulp-level noise that shapely's
    ``unary_union`` (/root/reference/atlxi_lake.py:364-375) absorbs by
    snapping in GEOS. This does the same relationally: vertices are
    quantized to ``grid`` (default: ``rel`` × the key's bbox span,
    i.e. ~1e-9 of the data's own scale — far above double noise, far
    below feature size) in key-translated space, so near-coincident
    vertices and near-collinear shared runs become EXACTLY coincident
    and the exact branches handle them.

    Quantization happens on (v − key_min)/grid — km-scale values even
    for 1e6-scale EPSG:3031 inputs — so the round() sees full mantissa
    headroom. Map-only per row after one broadcast of the per-key
    refs; same shuffle story as _edges."""
    refs = polys.groupBy(*key_cols).agg(
        F.min(F.array_min("xs")).alias("_sxr"),
        F.min(F.array_min("ys")).alias("_syr"),
        F.max(F.array_max("xs")).alias("_sxm"),
        F.max(F.array_max("ys")).alias("_sym"),
    )
    g = (
        F.lit(float(grid))
        if grid is not None
        else F.greatest(
            (F.col("_sxm") - F.col("_sxr")),
            (F.col("_sym") - F.col("_syr")),
            F.lit(1e-300),
        )
        * F.lit(rel)
    )
    out = (
        polys.join(F.broadcast(refs), key_cols)
        .withColumn("_sg", g)
        .withColumn("xs", F.expr("transform(xs, v -> round((v - _sxr) / _sg) * _sg + _sxr)"))
        .withColumn("ys", F.expr("transform(ys, v -> round((v - _syr) / _sg) * _sg + _syr)"))
        .drop("_sxr", "_syr", "_sxm", "_sym", "_sg")
    )
    return out


def _apply_snap(
    polys: DataFrame, key_cols: list[str], snap: float | str | None
) -> DataFrame:
    """Resolve the ``snap=`` parameter of the dissolve entry points:
    ``None`` → no pre-pass (bit-parity with round-7 behavior),
    ``"auto"`` → :func:`snap_vertices` at its default relative grid
    (~1e-9 of each key's bbox span — the GEOS-like default-safe
    behavior the reference user gets implicitly inside ``unary_union``,
    /root/reference/atlxi_lake.py:364-375), a float → that absolute
    grid. Round 8 (VERDICT r7 task 3): before this, callers had to
    KNOW to compose ``snap_vertices`` before ``dissolve_stats`` —
    forget it on reprojected/noisy data and near-contacts silently
    stay separate parts."""
    if snap is None:
        return polys
    if snap == "auto":
        return snap_vertices(polys, key_cols)
    return snap_vertices(polys, key_cols, grid=float(snap))


def _edges(polys: DataFrame, key_cols: list[str], pid: str) -> DataFrame:
    """Directed ring edges in per-key translated coordinates.

    Translation: subtract the key's min vertex (exact double min, so
    both engines agree bit-for-bit) — Green terms then involve
    km-scale values instead of 1e6-scale EPSG:3031 coordinates, which
    shrinks float cancellation ~1e6-fold.
    """
    polys = _with_rid(polys)
    refs = polys.groupBy(*key_cols).agg(
        F.min(F.array_min("xs")).alias("_xref"),
        F.min(F.array_min("ys")).alias("_yref"),
    )
    p = polys.join(F.broadcast(refs), key_cols)
    return p.select(
        *key_cols,
        F.col(pid).alias("pid"),
        "rid",
        "_xref",
        "_yref",
        F.expr(
            """
            explode(transform(sequence(0, size(xs) - 2), i -> struct(
                i AS eid,
                xs[i]   - _xref AS x1, ys[i]   - _yref AS y1,
                xs[i+1] - _xref AS x2, ys[i+1] - _yref AS y2)))
            """
        ).alias("e"),
    ).select(*key_cols, "pid", "rid", "_xref", "_yref", "e.*")


# one oversized feature may cover at most (64+2)² grid cells — the
# replication bound that lets the grid stay sized for the TYPICAL
# feature instead of the largest one (round 7: a single continent-
# scale ring among thousands of small lakes used to coarsen the whole
# key's grid to its own span, degrading coverage/containment back to
# probe×everything — measured 315.8 s for 1 giant + 1000 small polys)
_CELL_SPAN_CAP = 64.0


def _span_cell(spans: F.Column) -> list[F.Column]:
    """Aggregates for the per-key grid size over a span column:
    greatest(median span, max span / cap, 1e-12). Uniform-size keys
    get median ≈ max (the round-6 behavior: each feature ≤ 2×2
    cells); mixed-size keys get a grid sized for the median feature,
    with the oversized ones bounded at ≤ (cap+2)² cells each. Any
    cell size yields IDENTICAL results (the joins only gate which
    candidates are tested; misses are impossible — a contact lies in
    both bboxes — and extras contribute zero), so this is purely a
    physical knob. Floor of 1e-12 keeps degenerate (all-point) keys
    division-safe."""
    return [
        F.percentile_approx(spans, 0.5).alias("_med"),
        F.max(spans).alias("_mx"),
    ]


def _cell_from_stats() -> F.Column:
    return F.greatest(
        F.col("_med"), F.col("_mx") / F.lit(_CELL_SPAN_CAP), F.lit(1e-12)
    ).alias("_cell")


def _key_cell(edges: DataFrame, key_cols: list[str]) -> DataFrame:
    """Per-key grid size for EDGE bucketing: sized by the median edge
    axis span (see _span_cell) — short-edged polygons spread over a
    key's bbox land in distinct cells instead of one all-pairs
    partition, and a few long edges can't coarsen the grid past the
    cap. Spans are translation-invariant, so one frame serves both
    the translated overlay and the absolute-coordinate containment
    test."""
    spans = F.greatest(
        F.abs(F.col("x2") - F.col("x1")), F.abs(F.col("y2") - F.col("y1"))
    )
    return (
        edges.groupBy(*key_cols)
        .agg(*_span_cell(spans))
        .select(*key_cols, _cell_from_stats())
    )


def _auto_salt(cells: DataFrame, key_cols: list[str]) -> tuple[int, int]:
    """(salt, total_rows) from ONE pass over the (key, cx, cy)
    histogram.  Salt: same absolute-budget rule as
    crossover._auto_salt — a cell whose own pair work n² exceeds one
    task's budget straggles regardless of siblings; S =
    ceil(max²/target), capped (side B pays S× replication of its edge
    rows).  total_rows rides along on the same probe job (r12
    optimization round) so callers can right-size the checkpointed
    cell/edge partitioning without a second job."""
    import math

    row = (
        cells.groupBy(*key_cols, "cx", "cy")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"), F.sum("n").alias("tot"))
        .first()
    )
    mx = int(row["mx"] or 0)
    tot = int(row["tot"] or 0)
    if mx * mx <= _PAIR_TARGET:
        return 1, tot
    return max(1, min(_SALT_CAP, math.ceil(mx * mx / _PAIR_TARGET))), tot


# target rows per task for the checkpointed edge/cell tables (r12
# optimization round, guide §2.2/§6.1): a localCheckpoint freezes its
# parent's partitioning, so a 32-partition parent made EVERY
# downstream scan stage a 32-task stage even when the table holds a
# few hundred rows — dissolve_hot_key_bucketed ran 3,309 tasks for 66
# input polygons, almost all empty (measured ~2 s of pure scheduling
# at sf0.1).  Sizing is data-derived (row count from the salt probe,
# which materializes the checkpoint anyway), never core-count-derived:
# big inputs keep (or exceed) their parallelism because coalesce(k)
# with k ≥ current partitions is a no-op.  ~13 doubles/row ≈ 150 B ⇒
# 500k rows ≈ 75 MB per task, inside the guide's 100 MB–1 GB band
# (the pair join fanning OUT of these scans re-partitions on its own
# shuffle, so task width here only governs the scan/map stages).
_CKPT_ROWS_PER_TASK = 500_000


def _sized(df: DataFrame, rows: int) -> DataFrame:
    """Coalesce a (checkpointed) table to ceil(rows/target) partitions
    — purely physical: narrow dependency, no shuffle, no recompute of
    the materialized checkpoint, and a no-op when the table already
    has fewer partitions."""
    import math

    k = max(1, math.ceil(rows / _CKPT_ROWS_PER_TASK))
    return df.coalesce(k)


def _q(c: str) -> str:
    """Backtick-quote an identifier for the SQL-text fragments below.

    r12 optimization round: the dissolve DataFrame construction cost
    ~2.2 s of driver wall PER BUILD in py4j round trips (6.9k calls —
    every Column operator and alias is one socket round trip, and the
    bench builds each query twice). The hot constructors below are
    assembled as selectExpr/expr SQL text — one parser call per
    projection — producing the IDENTICAL analyzed expression trees
    (same ops, same order, same aliases), so every value is
    bit-unchanged."""
    return f"`{c}`"


# shared SQL fragments over the a/b-prefixed pair columns — identical
# arithmetic to the former Column-API trees (same ops, same order)
_D1X, _D1Y = "(ax2 - ax1)", "(ay2 - ay1)"
_D2X, _D2Y = "(bx2 - bx1)", "(by2 - by1)"
_QPX, _QPY = "(bx1 - ax1)", "(by1 - ay1)"
_DEN = f"({_D1X} * {_D2Y} - {_D1Y} * {_D2X})"
_T_SQL = f"(({_QPX} * {_D2Y} - {_QPY} * {_D2X}) / {_DEN})"
_U_SQL = f"(({_QPX} * {_D1Y} - {_QPY} * {_D1X}) / {_DEN})"
_LEN2 = f"({_D1X} * {_D1X} + {_D1Y} * {_D1Y})"


def _pair_cols(prefix: str) -> list[str]:
    return [
        f"pid AS {prefix}pid",
        f"rid AS {prefix}rid",
        f"eid AS {prefix}eid",
        f"x1 AS {prefix}x1",
        f"y1 AS {prefix}y1",
        f"x2 AS {prefix}x2",
        f"y2 AS {prefix}y2",
    ]


def _edge_pairs(
    edges: DataFrame,
    key_cols: list[str],
    bucketed: bool,
    spread_n: int | None = None,
) -> DataFrame:
    pairs, _rows = _edge_pairs_counted(edges, key_cols, bucketed, spread_n)
    return pairs


def _edge_pairs_counted(
    edges: DataFrame,
    key_cols: list[str],
    bucketed: bool,
    spread_n: int | None = None,
) -> tuple[DataFrame, int | None]:
    """Candidate edge pairs of a key, a-prefixed × b-prefixed; also
    returns the cell-row count observed by the salt probe (None in
    plain mode, where no probe runs) so callers can right-size their
    shared edge checkpoint (see _sized).

    plain: in-key self-join — every pair, exactly once per direction.
    cells: pairs co-located in a per-key grid cell (every contact —
    proper crossing, endpoint-on-edge touch, collinear overlap — lies
    inside both edges' bboxes, so the pair shares ≥1 cell); callers
    dedup the multi-cell re-discoveries with their existing DISTINCTs.
    Hot cells are salted: side A takes salt = hash(edge) mod S, side B
    replicates to all S values — every pair still meets exactly once
    per shared cell, and only hot inputs pay replication (S=1 keeps
    the salt columns out of the plan entirely)."""
    if not bucketed:
        a = edges.selectExpr(*[_q(c) for c in key_cols], *_pair_cols("a"))
        b = edges.selectExpr(*[_q(c) for c in key_cols], *_pair_cols("b"))
        if spread_n:
            # broadcast-safe edge set (see _SPREAD_EDGE_ROWS): spread
            # the probe side round-robin over spread_n explicit
            # partitions (explicit N opts the exchange out of AQE's
            # byte-based 1-task coalescing) and broadcast the build
            # side — the O(E_key²) pair arithmetic then runs on every
            # core instead of one. Physical only: same join predicate,
            # same rows, and the callers' DISTINCTs see the same sets.
            a = a.repartition(spread_n)
            b = F.broadcast(b)
        return a.join(b, key_cols), None
    cells = edges.join(F.broadcast(_key_cell(edges, key_cols)), key_cols)
    cx_lo = F.floor(F.least("x1", "x2") / F.col("_cell"))
    cx_hi = F.floor(F.greatest("x1", "x2") / F.col("_cell"))
    cy_lo = F.floor(F.least("y1", "y2") / F.col("_cell"))
    cy_hi = F.floor(F.greatest("y1", "y2") / F.col("_cell"))
    cells = (
        cells.withColumn("cx", F.explode(F.sequence(cx_lo, cx_hi)))
        .withColumn("cy", F.explode(F.sequence(cy_lo, cy_hi)))
        .drop("_cell")
        # both join sides reuse one materialization; lazy so the salt
        # probe's count is the job that materializes it (an eager
        # checkpoint would spend a separate job first)
        .localCheckpoint(eager=False)
    )
    salt, rows = _auto_salt(cells, key_cols)
    # the probe just materialized the checkpoint; size every scan of
    # it to the data (see _sized/_CKPT_ROWS_PER_TASK)
    cells = _sized(cells, rows)
    keys = [*key_cols, "cx", "cy"]
    a = cells.selectExpr(*[_q(c) for c in keys], *_pair_cols("a"))
    b = cells.selectExpr(*[_q(c) for c in keys], *_pair_cols("b"))
    if salt > 1:
        a = a.withColumn("_salt", F.pmod(F.xxhash64("apid", "arid", "aeid"), F.lit(salt)))
        b = b.withColumn("_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
        keys = [*keys, "_salt"]
    return a.join(b, keys).drop("cx", "cy", "_salt"), rows


def _crossings(
    edges: DataFrame,
    key_cols: list[str],
    bucketed: bool,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Proper crossings between edges of DIFFERENT polygons of a key:
    (key, pid, rid, eid, t) — the split parameter on the (pid, rid,
    eid) edge. Emitted from BOTH sides of the e×f pair (t for e, u for
    f), so one join covers every edge's splits. The same contact
    re-found in several shared cells collapses in the final DISTINCT
    (identical inputs ⇒ identical t bits). ``pairs`` lets dissolve_stats
    share one candidate-pair table across its two overlay passes."""
    if pairs is None:
        pairs = _edge_pairs(edges, key_cols, bucketed)
    # SQL-text assembly (see _q): the same arithmetic trees as the
    # former Column-API construction — ops, order and parenthesisation
    # mirrored exactly, so every t is the identical double
    pair = pairs.where("apid != bpid")
    keys_q = [_q(c) for c in key_cols]
    out_exprs = [*keys_q, "apid AS pid", "arid AS rid", "aeid AS eid"]
    # ONE pass over the candidate-pair join (r12 optimization round,
    # guide §2.4/§5.4): the former three branches — the proper-crossing
    # hit plus one degenerate endpoint-on-edge touch per endpoint of f
    # (T-junctions AND the endpoints of collinear shared runs; float
    # general-position data never triggers those, constructed shapes
    # do) — each re-executed the pair join (5 executions per
    # dissolve_stats with overlap_components' two). Fused as a per-row
    # candidate array + explode: the same predicate and split-parameter
    # SQL text per branch, so every surviving (pid, rid, eid, t) row is
    # bit-identical and the final DISTINCT sees the same set.
    # CASE guards keep every division inside its branch's original
    # filter domain (den != 0 / endpoint-on-line), matching the former
    # where-then-project order — required under ANSI mode and
    # evaluation-order-identical without it
    cands = [
        f"named_struct('ok', CASE WHEN ({_DEN}) != 0 THEN"
        f" {_T_SQL} > 0 AND {_T_SQL} < 1"
        f" AND {_U_SQL} > 0 AND {_U_SQL} < 1 ELSE false END,"
        f" 't', CASE WHEN ({_DEN}) != 0 THEN {_T_SQL} END)"
    ]
    for px_c, py_c in (("bx1", "by1"), ("bx2", "by2")):
        on_line = f"{_D1X} * ({py_c} - ay1) - {_D1Y} * ({px_c} - ax1)"
        tp = (
            f"(({px_c} - ax1) * {_D1X} + ({py_c} - ay1) * {_D1Y}) / {_LEN2}"
        )
        cands.append(
            f"named_struct('ok', CASE WHEN ({on_line}) = 0 THEN"
            f" {tp} > 0 AND {tp} < 1 ELSE false END,"
            f" 't', CASE WHEN ({on_line}) = 0 THEN {tp} END)"
        )
    return (
        pair.selectExpr(
            *out_exprs,
            f"explode(filter(array({', '.join(cands)}), c -> c.ok)) AS _c",
        )
        .selectExpr(*keys_q, "pid", "rid", "eid", "_c.t AS t")
        .distinct()
    )


def boundary_subedges(
    polys: DataFrame,
    key_cols: list[str],
    pid: str = "pid",
    eps: float = 1e-6,
    strategy: str = "auto",
    snap: float | str | None = None,
    _edges_df: DataFrame | None = None,
    _pairs: DataFrame | None = None,
    _spread_n: int | None = None,
) -> DataFrame:
    """Union-boundary sub-edges per key, oriented interior-LEFT:
    (key..., pid, eid, ax, ay, bx, by, _xref, _yref). ``polys`` needs
    closed rings as xs/ys array<double> plus a ``pid`` (and optionally
    ``rid`` for polygons with holes — see module docstring).
    ``strategy``: auto|plain|cells — see module docstring; both
    produce bit-identical output. ``snap``: None|float|"auto" — see
    :func:`_apply_snap` (default None keeps exact input vertices).
    ``_edges_df``/``_pairs``/``_spread_n`` are dissolve_stats' internal
    share of the edge/candidate-pair tables and the resolved plain-mode
    compute fan-out (it runs two overlay passes over the same input,
    already snapped — internal calls pass snap=None)."""
    polys = _apply_snap(polys, key_cols, snap)
    has_rid = "rid" in polys.columns  # hole-bearing inputs only
    if _edges_df is not None or _pairs is not None:
        bucketed = strategy == "cells"  # dissolve_stats resolved it
    else:
        bucketed, _spread_n = _resolve_strategy(polys, key_cols, strategy)
    polys = _with_rid(polys)
    if _edges_df is not None:
        edges = _edges_df
    else:
        edges = _edges(polys, key_cols, pid)
        if bucketed:
            # one materialization feeds the pair join (both sides) and
            # the sub-edge split; also truncates lineage so Catalyst
            # doesn't re-analyze the explode per branch (the crossover
            # join does the same). Lazy: the pair join's salt probe
            # forces it.
            edges = edges.localCheckpoint(eager=False)
    if _pairs is None and bucketed:
        _pairs, _cell_rows = _edge_pairs_counted(edges, key_cols, bucketed)
        edges = _sized(edges, _cell_rows)
    if _pairs is None and not bucketed:
        _pairs = _edge_pairs(edges, key_cols, bucketed, _spread_n)
    splits = (
        _crossings(edges, key_cols, bucketed, _pairs)
        .groupBy(*key_cols, "pid", "rid", "eid")
        .agg(F.collect_list("t").alias("_ts"))
    )
    sub = (
        edges.join(splits, [*key_cols, "pid", "rid", "eid"], "left")
        .withColumn(
            "_tl",
            F.array_sort(
                F.concat(
                    F.array(F.lit(0.0), F.lit(1.0)),
                    F.coalesce(F.col("_ts"), F.array().cast("array<double>")),
                )
            ),
        )
        .select(
            *key_cols,
            "pid",
            "rid",
            "eid",
            "x1",
            "y1",
            "x2",
            "y2",
            "_xref",
            "_yref",
            F.expr(
                "explode(transform(sequence(0, size(_tl) - 2), "
                "i -> struct(_tl[i] AS ta, _tl[i+1] AS tb)))"
            ).alias("s"),
        )
        .select(
            *key_cols, "pid", "rid", "eid", "x1", "y1", "x2", "y2", "_xref", "_yref", "s.*"
        )
        .where(F.col("tb") > F.col("ta"))
    )
    # endpoint arithmetic pinned at t=0 / t=1 so chained sub-edges of
    # one edge share exact bits with the ring vertices (both engines).
    # SQL-text assembly (see _q): the CASE chains and products mirror
    # the former when()/Column trees op for op.
    px = lambda t, x1, x2: (  # noqa: E731
        f"CASE WHEN {t} = 0.0D THEN {x1} ELSE "
        f"CASE WHEN {t} = 1.0D THEN {x2} ELSE "
        f"{x1} + {t} * ({x2} - {x1}) END END"
    )
    # probe offset: eps × the SUB-edge vector (tb - ta scales the full
    # edge direction down to the sub-edge span), so the probe distance
    # is proportional to the sliver being classified — an unnormalized
    # full-edge offset overshoots short sub-edges near tangencies
    # (ADVICE r5, dissolve.py:214)
    e_lit = f"{float(eps)!r}D"
    sub = sub.selectExpr(
        "*",
        f"{px('ta', 'x1', 'x2')} AS ax",
        f"{px('ta', 'y1', 'y2')} AS ay",
        f"{px('tb', 'x1', 'x2')} AS bx",
        f"{px('tb', 'y1', 'y2')} AS by",
        "x1 + ((ta + tb) / 2) * (x2 - x1) AS mx",
        "y1 + ((ta + tb) / 2) * (y2 - y1) AS my",
        f"-{e_lit} * (tb - ta) * (y2 - y1) AS ox",
        f"{e_lit} * (tb - ta) * (x2 - x1) AS oy",
    )
    sub_keys = [*key_cols, "pid", "rid", "eid", "ta", "tb", "ax", "ay", "bx", "by", "_xref", "_yref"]
    # ray CROSSING COUNT (not parity): identical straddle test on both
    # strategies. For hole-bearing inputs the counts are summed over
    # each polygon's rings and only then reduced mod 2 — even-odd
    # across outer+holes, so a probe inside a hole reads "outside the
    # polygon"; single-ring inputs take per-ring parity directly (each
    # (pid, rid) is one ring by the module's scope).
    if bucketed:
        cov = _coverage_cells(sub, polys, key_cols, pid, sub_keys, has_rid)
    else:
        if _spread_n:
            # the ray-cast lambda per (sub-edge × ring) row is the
            # coverage pass's whole cost at near-zero bytes — spread it
            # like the pair join (see _SPREAD_EDGE_ROWS)
            sub = sub.repartition(_spread_n)
        cov = _coverage_rings(
            sub, polys, key_cols, pid, sub_keys, has_rid,
            broadcast_rings=bool(_spread_n),
        )
    cov = cov.where(F.col("covl") != F.col("covr"))
    # orient interior-left: the +eps side is the left of (a -> b); if
    # only the right side is covered, flip the direction. The final
    # DISTINCT collapses identical oriented sub-edges: a collinear
    # boundary run shared by two polygons (same bits via the pinned
    # endpoint arithmetic) must enter the Green fold once, not twice.
    return cov.select(
        *key_cols,
        "_xref",
        "_yref",
        F.when(F.col("covl") == 1, F.col("ax")).otherwise(F.col("bx")).alias("ax"),
        F.when(F.col("covl") == 1, F.col("ay")).otherwise(F.col("by")).alias("ay"),
        F.when(F.col("covl") == 1, F.col("bx")).otherwise(F.col("ax")).alias("bx"),
        F.when(F.col("covl") == 1, F.col("by")).otherwise(F.col("ay")).alias("by"),
    ).distinct()


def _coverage_rings(
    sub: DataFrame,
    polys: DataFrame,
    key_cols: list[str],
    pid: str,
    sub_keys: list[str],
    has_rid: bool,
    broadcast_rings: bool = False,
) -> DataFrame:
    """plain-strategy coverage: probe × whole-ring array join on the
    key, ray cast as an array lambda — fewest exchanges, O(E²·rings)
    work inside each key's partition (fine under the budget probe).
    ``broadcast_rings`` pins the ring side as the build side so the
    spread probe partitioning survives the join (only set when the
    probe proved the edge set broadcast-safe — see _SPREAD_EDGE_ROWS;
    unhinted, the planner may broadcast the PROBE side and collapse
    the ray-cast compute back to the rings' single partition)."""
    refs = polys.groupBy(*key_cols).agg(
        F.min(F.array_min("xs")).alias("_rxref"),
        F.min(F.array_min("ys")).alias("_ryref"),
    )
    # rings pre-translated once (same per-element subtraction the edges
    # use) so the ray-cast lambda below stays small — cheaper codegen,
    # identical doubles
    rings = (
        polys.join(F.broadcast(refs), key_cols)
        .select(
            *key_cols,
            F.col(pid).alias("rpid"),
            F.expr("transform(xs, v -> v - _rxref)").alias("txs"),
            F.expr("transform(ys, v -> v - _ryref)").alias("tys"),
        )
    )
    hits = lambda qx, qy: F.expr(  # noqa: E731
        f"""
        size(filter(sequence(0, size(txs) - 2), i ->
            ((tys[i+1] > {qy}) != (tys[i] > {qy})) AND
            ({qx} < (txs[i] - txs[i+1])
                    * ({qy} - tys[i+1])
                    / (tys[i] - tys[i+1])
                    + txs[i+1])
        ))
        """
    )
    if broadcast_rings:
        rings = F.broadcast(rings)
    joined = (
        sub.join(rings, key_cols)
        .withColumn("_hl", hits("(mx + ox)", "(my + oy)"))
        .withColumn("_hr", hits("(mx - ox)", "(my - oy)"))
    )
    if has_rid:
        per_poly = joined.groupBy(*sub_keys, "rpid").agg(
            (F.sum("_hl") % 2 == 1).cast("int").alias("_inl"),
            (F.sum("_hr") % 2 == 1).cast("int").alias("_inr"),
        )
        return per_poly.groupBy(*sub_keys).agg(
            F.max("_inl").alias("covl"), F.max("_inr").alias("covr")
        )
    return joined.groupBy(*sub_keys).agg(
        F.max((F.col("_hl") % 2 == 1).cast("int")).alias("covl"),
        F.max((F.col("_hr") % 2 == 1).cast("int")).alias("covr"),
    )


def _ring_cells(
    polys: DataFrame, key_cols: list[str], pid: str, translate: bool
) -> DataFrame:
    """Rings replicated over every 2-D grid cell their bbox covers —
    the gridded-PIP recipe (operators/spatial.point_in_polygon_gridded)
    turned per-key: cell = the key's largest ring bbox span, so every
    ring lands in ≤ 2×2 cells while probes only meet bbox-cohabiting
    rings. Output: (key..., cx, cy, rpid, rrid, txs, tys) — arrays
    translated to the key origin when ``translate`` (the overlay's
    frame), absolute otherwise (the containment test's frame)."""
    if translate:
        refs = polys.groupBy(*key_cols).agg(
            F.min(F.array_min("xs")).alias("_rxref"),
            F.min(F.array_min("ys")).alias("_ryref"),
        )
        rings = polys.join(F.broadcast(refs), key_cols).select(
            *key_cols,
            F.col(pid).alias("rpid"),
            F.col("rid").alias("rrid"),
            F.expr("transform(xs, v -> v - _rxref)").alias("txs"),
            F.expr("transform(ys, v -> v - _ryref)").alias("tys"),
        )
    else:
        rings = polys.select(
            *key_cols,
            F.col(pid).alias("rpid"),
            F.col("rid").alias("rrid"),
            F.col("xs").alias("txs"),
            F.col("ys").alias("tys"),
        )
    rings = (
        rings.withColumn("_bx0", F.array_min("txs"))
        .withColumn("_bx1", F.array_max("txs"))
        .withColumn("_by0", F.array_min("tys"))
        .withColumn("_by1", F.array_max("tys"))
    )
    # grid sized by the MEDIAN ring span with the oversized-feature cap
    # (see _span_cell): a continent-scale ring among small lakes pays
    # bounded replication instead of coarsening everyone's grid
    spans = F.greatest(
        F.col("_bx1") - F.col("_bx0"), F.col("_by1") - F.col("_by0")
    )
    cellk = (
        rings.groupBy(*key_cols)
        .agg(*_span_cell(spans))
        .select(*key_cols, _cell_from_stats().alias("_rcell"))
    )
    return (
        rings.join(F.broadcast(cellk), key_cols)
        .withColumn(
            "cx",
            F.explode(
                F.sequence(
                    F.floor(F.col("_bx0") / F.col("_rcell")),
                    F.floor(F.col("_bx1") / F.col("_rcell")),
                )
            ),
        )
        .withColumn(
            "cy",
            F.explode(
                F.sequence(
                    F.floor(F.col("_by0") / F.col("_rcell")),
                    F.floor(F.col("_by1") / F.col("_rcell")),
                )
            ),
        )
        .drop("_bx0", "_bx1", "_by0", "_by1")
    ), cellk


# per-ring ray-cast PARITY as a Catalyst HOF — identical straddle and
# intercept arithmetic to _coverage_rings' count lambda, reduced mod 2.
# A ring whose bbox excludes the probe is strictly outside it, so its
# count is EVEN and the cell join may drop it: per-polygon even-odd
# (Σ counts mod 2) equals the XOR of per-ring parities over the
# surviving rings — integer arithmetic, bit-exact.
_RING_PARITY = """
    size(filter(sequence(0, size(txs) - 2), i ->
        ((tys[i+1] > {qy}) != (tys[i] > {qy})) AND
        ({qx} < (txs[i] - txs[i+1])
                * ({qy} - tys[i+1])
                / (tys[i] - tys[i+1])
                + txs[i+1])
    )) % 2
"""


def _coverage_cells(
    sub: DataFrame,
    polys: DataFrame,
    key_cols: list[str],
    pid: str,
    sub_keys: list[str],
    has_rid: bool,
) -> DataFrame:
    """cells-strategy coverage: probes equi-join candidate RINGS on the
    per-key 2-D bbox-cell grid (never the whole key), then the same
    array-lambda ray cast per (probe, ring) row. A hot key's coverage
    work becomes O(probes × bbox-cohabiting rings) spread across its
    cells instead of O(probes × all rings) in one partition."""
    rcells, cellk = _ring_cells(polys, key_cols, pid, translate=True)
    probes = (
        sub.select(
            *sub_keys,
            F.explode(
                F.array(
                    F.struct(
                        F.lit(1).alias("side"),
                        (F.col("mx") + F.col("ox")).alias("qx"),
                        (F.col("my") + F.col("oy")).alias("qy"),
                    ),
                    F.struct(
                        F.lit(0).alias("side"),
                        (F.col("mx") - F.col("ox")).alias("qx"),
                        (F.col("my") - F.col("oy")).alias("qy"),
                    ),
                )
            ).alias("p"),
        )
        .select(*sub_keys, "p.*")
        .join(F.broadcast(cellk), key_cols)
        .withColumn("cx", F.floor(F.col("qx") / F.col("_rcell")))
        .withColumn("cy", F.floor(F.col("qy") / F.col("_rcell")))
        .drop("_rcell")
    )
    # LEFT join: a probe sharing a cell with no ring has parity 0 on
    # every ring (outside) and must still reach the coverage vote
    j = probes.join(rcells, [*key_cols, "cx", "cy"], "left").withColumn(
        "_par",
        F.coalesce(F.expr(_RING_PARITY.format(qx="qx", qy="qy")), F.lit(0)),
    )
    if has_rid:
        # per-polygon parity = XOR of its rings' parities
        per = j.groupBy(*sub_keys, "rpid").agg(
            (F.sum(F.when(F.col("side") == 1, F.col("_par")).otherwise(0)) % 2 == 1)
            .cast("int")
            .alias("_inl"),
            (F.sum(F.when(F.col("side") == 0, F.col("_par")).otherwise(0)) % 2 == 1)
            .cast("int")
            .alias("_inr"),
        )
        return per.groupBy(*sub_keys).agg(
            F.max("_inl").alias("covl"), F.max("_inr").alias("covr")
        )
    return j.groupBy(*sub_keys).agg(
        F.max(F.when(F.col("side") == 1, F.col("_par")).otherwise(0)).alias("covl"),
        F.max(F.when(F.col("side") == 0, F.col("_par")).otherwise(0)).alias("covr"),
    )


def overlap_components(
    polys: DataFrame,
    key_cols: list[str],
    pid: str = "pid",
    strategy: str = "auto",
    _edges_df: DataFrame | None = None,
    _pairs: DataFrame | None = None,
    _spread_n: int | None = None,
) -> DataFrame:
    """(key..., pid, part) — connected components of the per-key
    overlap graph. ``part`` = min pid of the component. Edges of the
    graph (matching shapely ``unary_union``'s merge behavior):

    - proper edge crossing between two polygons;
    - a vertex of one polygon STRICTLY inside the other (even-odd over
      the other's rings — holes count; vertices exactly ON the other's
      boundary are excluded from the vote, since their parity is
      arbitrary);
    - a positive-length collinear overlap of two boundary edges
      (shared edges / partial shared runs / duplicate rings) — GEOS
      merges edge-touching polygons into one geometry. Isolated point
      contacts (corner touches, T-junction vertices) do NOT connect:
      GEOS returns a MultiPolygon for those (round-6; ADVICE r5,
      dissolve.py:308).

    Union-find runs one call per key over O(polygons) pairs — the
    dissolve analogue of the hull UDF's per-group altitude; state is
    O(polygons per key), never O(vertices)."""
    if _edges_df is not None or _pairs is not None:
        bucketed = strategy == "cells"  # dissolve_stats resolved it
    else:
        bucketed, _spread_n = _resolve_strategy(polys, key_cols, strategy)
    polys = _with_rid(polys)
    if _edges_df is not None:
        edges = _edges_df
    else:
        edges = _edges(polys, key_cols, pid)
        if bucketed:
            edges = edges.localCheckpoint(eager=False)
    # crossing PAIRS (pid, pid) — _crossings drops the partner pid (it
    # only needs split params), so pairs are derived directly here
    if _pairs is None:
        _pairs, _cell_rows = _edge_pairs_counted(
            edges, key_cols, bucketed, _spread_n
        )
        if _cell_rows is not None:
            edges = _sized(edges, _cell_rows)
    # SQL-text assembly (see _q) — trees identical to the former
    # Column-API construction
    pair = _pairs.where("apid < bpid")
    keys_q = [_q(c) for c in key_cols]
    pq_exprs = [*keys_q, "apid AS p", "bpid AS q"]
    # ONE pass over the candidate-pair join (r12 optimization round,
    # guide §2.4/§5.4 — the _crossings fusion's sibling): proper
    # crossings and positive-length collinear overlaps are disjoint on
    # ``den`` (≠0 vs =0), so a single OR filter yields exactly the
    # union of the former two branch scans — same predicate SQL text,
    # same surviving rows, one execution of the pair join instead of
    # two.
    #
    # collinear-overlap leg: parallel (den == 0), b1 on e's line
    # (cross == 0), and the projection interval of f onto e strictly
    # overlaps (0, 1). Endpoint-only contact projects to exactly {0}
    # or {1} — measure zero, excluded by the strict inequalities, so
    # corner touches stay separate parts.
    t1 = f"(({_QPX} * {_D1X} + {_QPY} * {_D1Y}) / {_LEN2})"
    t2 = f"(((bx2 - ax1) * {_D1X} + (by2 - ay1) * {_D1Y}) / {_LEN2})"
    # CASE guards keep the divisions inside their branch's original
    # filter domain (see _crossings) — ANSI-safe, same evaluation order
    cross_cond = (
        f"CASE WHEN ({_DEN}) != 0 THEN {_T_SQL} > 0 AND {_T_SQL} < 1 "
        f"AND {_U_SQL} > 0 AND {_U_SQL} < 1 ELSE false END"
    )
    touch_cond = (
        f"CASE WHEN {_DEN} = 0 AND ({_D1X} * {_QPY} - {_D1Y} * {_QPX}) = 0"
        f" THEN least({t1}, {t2}) < 1 AND greatest({t1}, {t2}) > 0"
        f" ELSE false END"
    )
    contact_pairs = (
        pair.where(F.expr(f"({cross_cond}) OR ({touch_cond})"))
        .selectExpr(*pq_exprs)
        .distinct()
    )
    # containment: ANY vertex of p strictly inside polygon q (parity
    # over q's rings), vertices exactly on q's boundary excluded. A
    # first-vertex-only test misses rings whose first vertex lies ON
    # the other boundary; if every vertex of p is outside or on ∂q yet
    # the interiors still overlap, a proper crossing exists and
    # cross_pairs already connects the pair.
    if bucketed:
        contain_pairs = _contain_cells(polys, key_cols, pid)
    else:
        contain_pairs = _contain_rings(polys, key_cols, pid, _spread_n)
    all_pairs = contact_pairs.unionByName(contain_pairs).distinct()
    # ONE row per key on both sides of the join: joining the pair LIST
    # onto per-node rows (pre-round-7) replicated an O(polys)-sized
    # list to every node — O(polys²) shuffle bytes on a hot key, the
    # quadratic tail the cells strategy exists to remove. State stays
    # O(polygons per key), now in exactly one copy.
    pairs_per_key = all_pairs.groupBy(*key_cols).agg(
        F.collect_list(F.struct("p", "q")).alias("prs")
    )
    nodes_per_key = (
        polys.select(*key_cols, F.col(pid).alias("pid"))
        .distinct()
        .groupBy(*key_cols)
        .agg(F.collect_list("pid").alias("_pids"))
    )
    keyed = nodes_per_key.join(pairs_per_key, key_cols, "left")

    key_t = dict(keyed.dtypes)
    pid_t = dict(polys.dtypes)[pid]  # output pid keeps the input dtype
    out_schema = ", ".join(
        f"`{c}` {key_t[c]}" for c in key_cols
    ) + f", pid {pid_t}, part bigint"

    def uf(pdf: pd.DataFrame) -> pd.DataFrame:
        row = pdf.iloc[0]
        pids = [int(v) for v in row["_pids"]]
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for v in pids:
            find(v)
        prs = row["prs"]
        if prs is not None:
            for e in prs:
                rp, rq = find(int(e["p"])), find(int(e["q"]))
                if rp != rq:
                    parent[max(rp, rq)] = min(rp, rq)
        # label = min pid of the component
        root_min: dict[int, int] = {}
        for v in pids:
            r = find(v)
            root_min[r] = min(root_min.get(r, v), v)
        out = pd.DataFrame({c: [row[c]] * len(pids) for c in key_cols})
        out["pid"] = pids
        out["part"] = [root_min[find(v)] for v in pids]
        return out

    return keyed.groupBy(*key_cols).applyInPandas(uf, schema=out_schema)


def _contain_rings(
    polys: DataFrame,
    key_cols: list[str],
    pid: str,
    spread_n: int | None = None,
) -> DataFrame:
    """plain-strategy containment: vertex × whole-ring array join on
    the key, parity + on-boundary as array lambdas.  ``spread_n``:
    spread the vertex side and broadcast the ring side when the probe
    proved the edge set broadcast-safe (see _SPREAD_EDGE_ROWS) — the
    per-(vertex, ring) parity lambda is CPU-bound at near-zero bytes,
    the same single-task collapse the pair join fixes."""
    va = (
        polys.select(
            *key_cols,
            F.col(pid).alias("p"),
            F.expr(
                "explode(transform(sequence(0, size(xs) - 2), "
                "i -> struct(xs[i] AS vx, ys[i] AS vy)))"
            ).alias("v"),
        )
        .select(*key_cols, "p", "v.*")
        .distinct()
    )
    pb = polys.select(
        *key_cols, F.col(pid).alias("q"), F.col("xs").alias("rxs"), F.col("ys").alias("rys")
    )
    if spread_n:
        va = va.repartition(spread_n)
        pb = F.broadcast(pb)
    ray_hits = F.expr(
        """
        size(filter(sequence(0, size(rxs) - 2), i ->
            ((rys[i+1] > vy) != (rys[i] > vy)) AND
            (vx < (rxs[i] - rxs[i+1]) * (vy - rys[i+1])
                  / (rys[i] - rys[i+1]) + rxs[i+1])
        ))
        """
    )
    on_boundary = F.expr(
        """
        exists(sequence(0, size(rxs) - 2), i ->
            (rxs[i+1] - rxs[i]) * (vy - rys[i]) -
            (rys[i+1] - rys[i]) * (vx - rxs[i]) = 0 AND
            (vx - rxs[i]) * (rxs[i+1] - rxs[i]) +
            (vy - rys[i]) * (rys[i+1] - rys[i]) >= 0 AND
            (vx - rxs[i]) * (rxs[i+1] - rxs[i]) +
            (vy - rys[i]) * (rys[i+1] - rys[i]) <=
            (rxs[i+1] - rxs[i]) * (rxs[i+1] - rxs[i]) +
            (rys[i+1] - rys[i]) * (rys[i+1] - rys[i])
        )
        """
    )
    return (
        va.join(pb, key_cols)
        .where(F.col("p") != F.col("q"))
        .withColumn("_hits", ray_hits)
        .withColumn("_onb", on_boundary)
        .groupBy(*key_cols, "p", "q", "vx", "vy")
        .agg(
            (F.sum("_hits") % 2 == 1).alias("_in"),
            F.max(F.col("_onb").cast("int")).alias("_onbi"),
        )
        .where(F.col("_in") & (F.col("_onbi") == 0))
        .select(*key_cols, F.least("p", "q").alias("p"), F.greatest("p", "q").alias("q"))
        .distinct()
    )


def _contain_cells(polys: DataFrame, key_cols: list[str], pid: str) -> DataFrame:
    """cells-strategy containment: vertices equi-join candidate RINGS
    on the per-key 2-D bbox-cell grid (the gridded-PIP recipe), then
    the same array-lambda parity + on-boundary tests per (vertex,
    ring) row. A ring whose bbox excludes the vertex has even parity
    and no boundary contact, so the cell join may drop it — the
    per-polygon XOR over surviving rings is bit-exact vs
    _contain_rings. Coordinates stay ABSOLUTE (the predicates are
    translation-free here), identical doubles."""
    rcells, cellk = _ring_cells(polys, key_cols, pid, translate=False)
    va = (
        polys.select(
            *key_cols,
            F.col(pid).alias("p"),
            F.expr(
                "explode(transform(sequence(0, size(xs) - 2), "
                "i -> struct(xs[i] AS vx, ys[i] AS vy)))"
            ).alias("v"),
        )
        .select(*key_cols, "p", "v.*")
        .distinct()
        .join(F.broadcast(cellk), key_cols)
        .withColumn("cx", F.floor(F.col("vx") / F.col("_rcell")))
        .withColumn("cy", F.floor(F.col("vy") / F.col("_rcell")))
        .drop("_rcell")
    )
    on_boundary = F.expr(
        """
        exists(sequence(0, size(txs) - 2), i ->
            (txs[i+1] - txs[i]) * (vy - tys[i]) -
            (tys[i+1] - tys[i]) * (vx - txs[i]) = 0 AND
            (vx - txs[i]) * (txs[i+1] - txs[i]) +
            (vy - tys[i]) * (tys[i+1] - tys[i]) >= 0 AND
            (vx - txs[i]) * (txs[i+1] - txs[i]) +
            (vy - tys[i]) * (tys[i+1] - tys[i]) <=
            (txs[i+1] - txs[i]) * (txs[i+1] - txs[i]) +
            (tys[i+1] - tys[i]) * (tys[i+1] - tys[i])
        )
        """
    )
    return (
        va.join(rcells, [*key_cols, "cx", "cy"])
        .where(F.col("p") != F.col("rpid"))
        .withColumn("_par", F.expr(_RING_PARITY.format(qx="vx", qy="vy")))
        .withColumn("_onb", on_boundary)
        .groupBy(*key_cols, "p", F.col("rpid").alias("q"), "vx", "vy")
        .agg(
            (F.sum("_par") % 2 == 1).alias("_in"),
            F.max(F.col("_onb").cast("int")).alias("_onbi"),
        )
        .where(F.col("_in") & (F.col("_onbi") == 0))
        .select(*key_cols, F.least("p", "q").alias("p"), F.greatest("p", "q").alias("q"))
        .distinct()
    )


def dissolve_stats(
    polys: DataFrame,
    key_cols: list[str],
    pid: str = "pid",
    eps: float = 1e-6,
    strategy: str = "auto",
    snap: float | str | None = None,
) -> DataFrame:
    """Scalar dissolve summary per key: n_polys, n_parts (merged
    regions), union_area (Green fold over boundary sub-edges) and
    sum_part_area (Σ per-polygon areas of the inputs: |outer ring| −
    Σ|hole rings| when ``rid`` marks holes) — by construction
    union_area ≤ sum_part_area, equality iff nothing overlaps.
    ``snap``: None|float|"auto" — optional snap-rounding pre-pass
    applied ONCE here (both overlay passes and sum_part_area then see
    the snapped vertices); see :func:`_apply_snap`.

    NOTE: the default ``snap=None`` keeps EXACT input vertices — the
    bit-parity contract this operator's oracles rely on — whereas
    GEOS ``unary_union`` (what the reference user calls) snap-rounds
    implicitly, merging ulp-noisy contacts. If your polygons came
    through any lossy transform (reprojection, rotation), pass
    ``snap='auto'`` or use the pipeline entry
    ``plans.lakes.dissolve_lake_catalog``, which defaults to it."""
    polys = _apply_snap(polys, key_cols, snap)
    # resolve auto ONCE so the probe job doesn't run again in each of
    # the two overlay passes, and SHARE the edge + candidate-pair
    # tables between them (in cells mode that halves the checkpoint/
    # salt-probe fixed cost); pass the ORIGINAL frame so
    # boundary_subedges keys its single-ring fast path off the absence
    # of a rid column (ADVICE r6)
    bucketed, spread_n = _resolve_strategy(polys, key_cols, strategy)
    strategy = "cells" if bucketed else "plain"
    edges = _edges(polys, key_cols, pid)
    if bucketed:
        edges = edges.localCheckpoint(eager=False)
    pairs, _cell_rows = _edge_pairs_counted(edges, key_cols, bucketed, spread_n)
    if _cell_rows is not None:
        # the salt probe materialized the edge checkpoint; size every
        # downstream scan of it (cell rows ≥ edge rows — same scale)
        edges = _sized(edges, _cell_rows)
    bnd = boundary_subedges(
        polys, key_cols, pid, eps, strategy,
        _edges_df=edges, _pairs=pairs, _spread_n=spread_n,
    )
    components = overlap_components(
        polys, key_cols, pid, strategy,
        _edges_df=edges, _pairs=pairs, _spread_n=spread_n,
    )
    polys = _with_rid(polys)
    area = bnd.groupBy(*key_cols).agg(
        F.sum((F.col("ax") * F.col("by") - F.col("bx") * F.col("ay")) / 2).alias(
            "union_area"
        )
    )
    shoelace = F.expr(
        """
        abs(aggregate(sequence(0, size(xs) - 2), cast(0.0 as double),
            (acc, i) -> acc + (xs[i] * ys[i+1] - xs[i+1] * ys[i]))) / 2
        """
    )
    # holes subtract: |outer| - Σ|holes| per polygon, orientation-free
    signed = F.when(F.col("rid") == 0, shoelace).otherwise(-shoelace)
    parts = components.groupBy(*key_cols).agg(
        F.countDistinct("part").alias("n_parts")
    )
    base = polys.groupBy(*key_cols).agg(
        F.countDistinct(F.col(pid)).alias("n_polys"),
        F.sum(signed).alias("sum_part_area"),
    )
    return base.join(parts, key_cols).join(area, key_cols)


def dissolve_rings(
    polys: DataFrame,
    key_cols: list[str],
    pid: str = "pid",
    eps: float = 1e-6,
    snap: float = 1e-6,
    strategy: str = "auto",
) -> DataFrame:
    """Full dissolve: per key, the merged geometry as an array of
    CLOSED rings (outer rings CCW / holes CW by construction — every
    boundary edge carries the union interior on its left) plus
    union_area. Chaining runs once per key over the (small) boundary
    edge set; endpoints are snapped to ``snap`` (crossing points are
    computed from two different edges, so their bits differ by ulps).
    Coordinates are translated back to the input frame."""
    bnd = boundary_subedges(polys, key_cols, pid, eps, strategy)

    key_t = dict(bnd.dtypes)
    out_schema = (
        ", ".join(f"`{c}` {key_t[c]}" for c in key_cols)
        + ", rings array<array<struct<x: double, y: double>>>, union_area double"
    )

    def chain(pdf: pd.DataFrame) -> pd.DataFrame:
        xref = float(pdf["_xref"].iloc[0])
        yref = float(pdf["_yref"].iloc[0])
        k = lambda x, y: (round(x / snap), round(y / snap))  # noqa: E731
        nxt: dict[tuple[int, int], list[int]] = {}
        for i, r in enumerate(pdf.itertuples()):
            nxt.setdefault(k(r.ax, r.ay), []).append(i)
        used = [False] * len(pdf)
        rings = []
        area = 0.0
        ax = pdf["ax"].to_numpy()
        ay = pdf["ay"].to_numpy()
        bx = pdf["bx"].to_numpy()
        by = pdf["by"].to_numpy()
        for start in range(len(pdf)):
            if used[start]:
                continue
            ring = [(ax[start] + xref, ay[start] + yref)]
            cur = start
            used[start] = True
            while True:
                area += (ax[cur] * by[cur] - bx[cur] * ay[cur]) / 2
                end_key = k(bx[cur], by[cur])
                ring.append((bx[cur] + xref, by[cur] + yref))
                cands = [j for j in nxt.get(end_key, []) if not used[j]]
                if not cands:
                    break  # ring closed (or open on degeneracy)
                cur = cands[0]
                used[cur] = True
            rings.append([{"x": float(x), "y": float(y)} for x, y in ring])
        first = pdf.iloc[[0]][key_cols].copy()
        first["rings"] = [rings]
        first["union_area"] = area
        return first

    return bnd.groupBy(*key_cols).applyInPandas(chain, schema=out_schema)
