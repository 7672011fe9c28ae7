"""Product quantization (PQ) — the memory side of production ANN.

Jégou et al. 2011 ("Product quantization for nearest neighbor
search", public): split each d-dim vector into ``m`` subvectors of
``d/m`` dims, vector-quantize every subspace independently with its
own k-centroid codebook, and represent the vector by its ``m`` small
codes (m bytes at k <= 256 vs 4*d bytes of floats — a 32x compression
at d=64/m=8). Query-time distance is ASYMMETRIC (ADC): the query stays
exact, a per-subspace lookup table of query-to-centroid distances is
built once (m*k entries), and each database vector's distance is just
``m`` table lookups summed — no float math per row.

This module completes the repo's ANN story: ``similarity.ivf_train``
prunes WHICH vectors to score (coarse cells), PQ compresses HOW each
survivor is scored. The composition (IVF-PQ) is the production shape
at 100 TB: cells bound the candidate set, codes bound the bytes per
candidate.

Determinism design — everything rides :mod:`llm.kmeans`'s fixed-point
arithmetic (exponent-shift quantization is EXACT in IEEE; distances
and centroid updates are integer), so training, encoding and ADC are
reproducible to the bit on any engine or partitioning.

100 TB shape:
- **train**: ``m`` independent ``kmeans_fixed`` runs over sliced
  subvectors (each the documented k-row broadcast assignment +
  combinable min-struct groupBy + k*(d/m)-cell update). The collected
  codebook is m*k*(d/m) = k*d BIGINTs — bounded driver state by
  construction, the ``ivf_train`` / ``cms_build`` precedent. The m
  trainings scan the same input; run them over a cached/checkpointed
  frame in production.
- **encode**: a pure Column projection (array_min over k literal
  structs per subspace) — zero shuffle, zero Python, streams
  unchanged over readStream (the ``assign_fixed_expr`` precedent).
- **ADC top-k**: distance = integer fold over a literal m*k table —
  pure projection — then one TakeOrderedAndProject. Zero joins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.llm import kmeans as _km

# [subspace] -> {live cluster id: quantized centroid}. Dicts, not dense
# lists: a dead cluster (first-k init no point ever wins after an
# update round) simply has no entry, so Spark's argmin can only emit
# the SAME live ids the SQL replay's final assignment emits — no
# padding convention to keep in sync.
Codebooks = list[dict[int, list[int]]]


def _sub_dim(codebooks: Codebooks) -> int:
    """Subspace dimensionality — every centroid of every book shares it."""
    return len(next(iter(codebooks[0].values())))


def _check_geometry(dim: int, m: int) -> int:
    if m < 1 or dim < 1:
        raise ValueError(f"need dim >= 1 and m >= 1, got dim={dim} m={m}")
    if dim % m:
        raise ValueError(f"dim ({dim}) must be divisible by m ({m}) subspaces")
    return dim // m


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    m: int = 8,
    k: int = 16,
    iterations: int = 3,
    shift: int = _km.DEFAULT_SHIFT,
) -> Codebooks:
    """Train the ``m`` per-subspace codebooks distributed; return one
    ``{live cluster id: quantized centroid}`` dict per subspace.

    The only driver-side materialization is the codebook itself
    (<= m * k * dim/m = k * dim ints; 1024 at the 64-dim/16-centroid
    default) — the bounded-collect contract of ``ivf_train``.
    """
    sub = _check_geometry(dim, m)
    books: Codebooks = []
    for j in range(m):
        sliced = df.where(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("_id"),
            F.slice(F.col(vec_col), j * sub + 1, sub).alias("_sub"),
        )
        cents = _km.kmeans_fixed_centroids(
            sliced, "_sub", "_id", k=k, iterations=iterations, shift=shift
        ).collect()
        by_cl = {int(r["cluster"]): [int(v) for v in r["c"]] for r in cents}
        if not by_cl:
            raise ValueError("pq_train: empty input — nothing to quantize")
        books.append(by_cl)
    return books


def pq_encode_expr(
    vec_col,
    codebooks: Codebooks,
    shift: int = _km.DEFAULT_SHIFT,
) -> Column:
    """``array<bigint>`` of the ``m`` per-subspace codes for a float
    vector column — argmin centroid per subspace on the exact
    fixed-point grid, ties to the lower cluster id (the
    ``assign_fixed_expr`` ordering). Pure projection. NULL vectors
    encode NULL."""
    if not codebooks:
        raise ValueError("pq_encode_expr needs at least one codebook")
    sub = _sub_dim(codebooks)
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    codes = [
        _km.assign_fixed_expr(
            F.slice(vec, j * sub + 1, sub), book, shift
        )["cluster"]
        for j, book in enumerate(codebooks)
    ]
    return F.when(vec.isNotNull(), F.array(*codes))


def pq_reconstruction_error_expr(
    vec_col,
    codebooks: Codebooks,
    shift: int = _km.DEFAULT_SHIFT,
) -> Column:
    """Integer squared quantization error of a vector vs its own codes
    (sum of per-subspace winning distances) — the PQ quality metric
    that tells you whether m/k are adequate BEFORE committing an index
    build. Same exact arithmetic as encoding."""
    if not codebooks:
        raise ValueError("pq_reconstruction_error_expr needs codebooks")
    sub = _sub_dim(codebooks)
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    dists = [
        _km.assign_fixed_expr(F.slice(vec, j * sub + 1, sub), book, shift)["dist"]
        for j, book in enumerate(codebooks)
    ]
    total = dists[0]
    for d in dists[1:]:
        total = total + d
    return F.when(vec.isNotNull(), total)


def adc_table(
    query: list[float],
    codebooks: Codebooks,
    shift: int = _km.DEFAULT_SHIFT,
) -> list[list[int]]:
    """The m*k asymmetric-distance lookup table: exact integer squared
    distance from the QUANTIZED query subvector to every sub-centroid.
    Driver-side pure Python on m*k*(d/m) ints — the table IS the
    broadcast artifact (k*dim entries)."""
    if not codebooks:
        raise ValueError("adc_table needs codebooks")
    sub = _sub_dim(codebooks)
    if len(query) != sub * len(codebooks):
        raise ValueError(
            f"query dim {len(query)} != m*sub = {sub * len(codebooks)}"
        )
    scale = float(2**shift)
    import math

    q = [int(math.floor(float(v) * scale)) for v in query]
    table: list[list[int]] = []
    for j, book in enumerate(codebooks):
        qs = q[j * sub : (j + 1) * sub]
        # dense up to max live id; dead slots hold 0 — they are never
        # consulted (pq_adc_dist_expr looks up only EMITTED codes, and
        # encoding can only emit live ids)
        row = [0] * (max(book) + 1)
        for cl, cent in book.items():
            row[cl] = sum((a - b) * (a - b) for a, b in zip(qs, cent))
        table.append(row)
    return table


def pq_adc_dist_expr(code_col, table: list[list[int]]) -> Column:
    """Integer ADC distance of a code array vs a literal lookup table:
    ``sum_j table[j][code_j]`` via element_at over an array-of-arrays
    literal — pure projection, no join, no Python."""
    tbl = F.array(
        *[
            F.array(*[F.lit(int(v)).cast("long") for v in row])
            for row in table
        ]
    )
    codes = F.col(code_col) if isinstance(code_col, str) else code_col
    # 1-based element_at on both axes; zip codes with their subspace
    # index via aggregate over positions
    m = len(table)
    terms = [
        F.element_at(F.element_at(tbl, j + 1), (F.element_at(codes, j + 1) + 1).cast("int"))
        for j in range(m)
    ]
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return total


def pq_adc_topk(
    df: DataFrame,
    query: list[float],
    codebooks: Codebooks,
    k_top: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shift: int = _km.DEFAULT_SHIFT,
) -> DataFrame:
    """(id, adc_dist, rank) — the ``k_top`` nearest database vectors to
    ``query`` by asymmetric PQ distance. Encode + table-lookup are one
    projection; the only ordering is a TakeOrderedAndProject on
    (adc_dist, id). Deterministic ties by id."""
    table = adc_table(query, codebooks, shift)
    # materialize the codes column ONCE: pq_adc_dist_expr references it
    # m times, and inlining the full m-argmin encode tree into each
    # lookup term would carry m^2 copies of it in the plan (round-14
    # review finding)
    coded = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col),
        pq_encode_expr(F.col(vec_col), codebooks, shift).alias("_codes"),
    )
    scored = coded.select(
        F.col(id_col),
        pq_adc_dist_expr("_codes", table).alias("adc_dist"),
    )
    top = scored.orderBy(F.col("adc_dist").asc(), F.col(id_col).asc()).limit(
        int(k_top)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


# --- IVF-PQ (IVFADC: Jégou et al. 2011 §V) ----------------------------------
# The production composition: a coarse quantizer prunes WHICH cells to
# scan (n_probe of k_coarse), PQ codes over the RESIDUAL (x - coarse
# centroid) score the survivors. Residuals live on the already-
# quantized integer grid (integer subtraction is exact), so residual
# PQ reuses the same machinery at shift=0 — floor(v * 2^0) of an
# integer-valued double is the identity, and every distance stays a
# BIGINT. Training, encoding, probing and ADC are therefore bit-exact
# cross-engine end to end, like everything else in this module.


def ivf_pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    k_coarse: int = 8,
    m: int = 8,
    k_sub: int = 16,
    iterations: int = 3,
    shift: int = _km.DEFAULT_SHIFT,
) -> tuple[dict[int, list[int]], Codebooks]:
    """(coarse codebook, residual PQ codebooks). The coarse book is a
    ``{cell: quantized centroid}`` dict from :func:`kmeans_fixed`
    (k_coarse * dim ints); the PQ books quantize the integer residual
    against the assigned coarse centroid (shift=0 — see module note).
    Total driver state: (k_coarse + k_sub) * dim ints."""
    coarse_df = _km.kmeans_fixed_centroids(
        df.where(F.col(vec_col).isNotNull()),
        vec_col,
        id_col,
        k=k_coarse,
        iterations=iterations,
        shift=shift,
    ).collect()
    coarse = {int(r["cluster"]): [int(v) for v in r["c"]] for r in coarse_df}
    if not coarse:
        raise ValueError("ivf_pq_train: empty input — nothing to quantize")
    res = _residuals(df, coarse, vec_col=vec_col, id_col=id_col, shift=shift)
    books = pq_train(
        res, vec_col="_res", id_col=id_col, dim=dim, m=m, k=k_sub,
        iterations=iterations, shift=0,
    )
    return coarse, books


def _centroid_lookup(coarse: dict[int, list[int]], cell) -> Column:
    """array<bigint> centroid for a cell-id Column, via a literal
    when-chain (k_coarse entries — plan-literal sized)."""
    expr = None
    for cl, cent in sorted(coarse.items()):
        arr = F.array(*[F.lit(int(v)).cast("long") for v in cent])
        expr = (
            F.when(cell == int(cl), arr)
            if expr is None
            else expr.when(cell == int(cl), arr)
        )
    return expr


def _residuals(
    df: DataFrame,
    coarse: dict[int, list[int]],
    vec_col: str,
    id_col: str,
    shift: int,
) -> DataFrame:
    """(id, _cell, _res): coarse assignment + integer residual of the
    quantized vector against its coarse centroid, carried as
    integer-valued doubles so the PQ machinery consumes it at
    shift=0. |residual| < 2^shift * max|coord| * 2 stays far inside
    the 2^53 exact-double window for embedding-scale inputs."""
    assign = _km.assign_fixed_expr(F.col(vec_col), coarse, shift)
    x = _km.quantize_vec(F.col(vec_col), shift)
    with_cell = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col), assign["cluster"].alias("_cell"), x.alias("_x")
    )
    cent = _centroid_lookup(coarse, F.col("_cell"))
    return with_cell.select(
        id_col,
        "_cell",
        F.zip_with(
            F.col("_x"), cent, lambda a, b: (a - b).cast("double")
        ).alias("_res"),
    )


def ivf_pq_topk(
    df: DataFrame,
    query: list[float],
    coarse: dict[int, list[int]],
    books: Codebooks,
    n_probe: int = 2,
    k_top: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shift: int = _km.DEFAULT_SHIFT,
) -> DataFrame:
    """(id, cell, adc_dist, rank): IVFADC search. The n_probe cells
    nearest the query (driver-side integer math over the k_coarse-row
    codebook) gate a pure-Column cell filter — vectors outside probed
    cells are never residual-encoded or scored — then per-cell
    residual ADC tables (one per probed cell: the query residual
    differs per cell) score the survivors and one
    TakeOrderedAndProject returns the top k. Deterministic ties by
    (dist, id)."""
    if not coarse:
        raise ValueError("ivf_pq_topk needs a coarse codebook")
    if n_probe < 1:
        raise ValueError("n_probe must be >= 1")
    import math

    scale = float(2**shift)
    q = [int(math.floor(float(v) * scale)) for v in query]
    ranked = sorted(
        (
            (sum((a - b) * (a - b) for a, b in zip(q, cent)), cl)
            for cl, cent in coarse.items()
        )
    )
    probed = [cl for _, cl in ranked[: int(n_probe)]]
    # per-probed-cell ADC table over the query's residual in that cell
    tables = {
        cl: adc_table(
            [float(a - b) for a, b in zip(q, coarse[cl])], books, shift=0
        )
        for cl in probed
    }
    res = _residuals(df, coarse, vec_col=vec_col, id_col=id_col, shift=shift)
    survivors = res.where(F.col("_cell").isin([int(c) for c in probed]))
    # materialize the residual codes ONCE (see pq_adc_topk note): the
    # when-chain below references them m times per probed cell
    coded = survivors.select(
        F.col(id_col),
        "_cell",
        pq_encode_expr(F.col("_res"), books, shift=0).alias("_codes"),
    )
    # when-chain keyed by probed cell: each cell scores against ITS
    # residual table; the otherwise-NULL arm is unreachable (survivors
    # are already filtered to probed cells)
    dist = None
    for cl in probed:
        d = pq_adc_dist_expr("_codes", tables[cl])
        dist = (
            F.when(F.col("_cell") == int(cl), d)
            if dist is None
            else dist.when(F.col("_cell") == int(cl), d)
        )
    dist = dist.otherwise(F.lit(None).cast("long"))
    scored = coded.select(
        F.col(id_col),
        F.col("_cell").alias("cell"),
        dist.alias("adc_dist"),
    )
    top = scored.orderBy(F.col("adc_dist").asc(), F.col(id_col).asc()).limit(
        int(k_top)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
    return top.withColumn("rank", F.row_number().over(w).cast("int"))
