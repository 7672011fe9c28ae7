"""Declarative data-quality checks (deequ/dbt-test-style constraints).

A pipeline that ingests 100 TB needs its invariants verified IN the
engine, as one aggregate pass — not by exporting samples. Each check is
a boolean Column; the operator folds every check into a single
partial-aggregatable projection, so validating N constraints costs one
scan and one tiny shuffle regardless of N (the reference validates
row-at-a-time inside node callbacks, e.g. the property coercions in
common.py FilterByProperties/MapProperties — same intent, per-row
Python cost).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.columns import working_names


def check_constraints(
    df: DataFrame,
    checks: dict[str, Column],
) -> DataFrame:
    """One row per check: name, total rows, violations (rows where the
    predicate is false OR null — an unevaluable constraint is a
    failing one), pass flag. Single scan, map-side partial aggregation,
    one final row per check."""
    if not checks:
        # ADVICE_r05: an empty dict previously reached F.stack(0) and
        # died with an obscure analysis error deep in Catalyst
        raise ValueError("check_constraints: checks dict is empty")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for name, pred in checks.items():
        aggs.append(
            # coalesce: sum over ZERO rows is NULL, and an empty input
            # is vacuously valid (0 violations), not a failed check
            F.coalesce(
                F.sum(F.when(pred.isNull() | ~pred, 1).otherwise(0)), F.lit(0)
            ).cast("long").alias(f"_viol_{name}")
        )
    row = df.agg(*aggs)
    stack_args: list[Column] = []
    for name in checks:
        stack_args.append(F.lit(name))
        stack_args.append(F.col(f"_viol_{name}"))
    n = len(checks)
    return row.select(
        F.col("n_rows"),
        F.stack(F.lit(n), *stack_args).alias("check", "n_violations"),
    ).select(
        "check",
        "n_rows",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )


def assert_constraints(df: DataFrame, checks: dict[str, Column]) -> None:
    """Fail fast: raise with the violation summary if any check fails.
    The guard a write pipeline places before its sink."""
    failed = [r for r in check_constraints(df, checks).collect() if not r.passed]
    if failed:
        detail = ", ".join(f"{r.check}: {r.n_violations}/{r.n_rows}" for r in failed)
        raise ValueError(f"data-quality constraints failed: {detail}")


def profile_columns(
    df: DataFrame,
    numeric_cols: list[str],
    string_cols: list[str] | None = None,
) -> DataFrame:
    """One-pass column profile (the engine's exact DESCRIBE): per
    column — rows, nulls, distinct count, typed min/max (numeric
    columns report doubles, string columns report strings — never a
    float-to-string cast, whose formatting is engine-specific), and a
    DECIMAL-exact mean for numerics. Everything folds into a single
    aggregate projection (one scan; count_distinct adds Spark's
    standard expand, still one pass over the data), then unpivots to
    one row per column — the profiling step a 100 TB ingest runs
    before committing a partition."""
    string_cols = string_cols or []
    if not numeric_cols and not string_cols:
        raise ValueError("profile_columns: no columns given to profile")
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in numeric_cols + string_cols:
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"_nul_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"_dis_{c}"))
    for c in numeric_cols:
        aggs.append(F.round(F.min(F.col(c).cast("double")), 6).alias(f"_min_{c}"))
        aggs.append(F.round(F.max(F.col(c).cast("double")), 6).alias(f"_max_{c}"))
        aggs.append(
            (
                F.sum(F.col(c).cast("decimal(38,6)")).cast("double")
                / F.count(F.col(c))
            ).alias(f"_avg_{c}")
        )
    for c in string_cols:
        aggs.append(F.min(F.col(c)).alias(f"_min_{c}"))
        aggs.append(F.max(F.col(c)).alias(f"_max_{c}"))
    row = df.agg(*aggs)
    parts: list[Column] = []
    for c in numeric_cols + string_cols:
        is_num = c in numeric_cols
        parts.extend(
            [
                F.lit(c),
                F.col(f"_nul_{c}").cast("long"),
                F.col(f"_dis_{c}").cast("long"),
                F.col(f"_min_{c}") if is_num else F.lit(None).cast("double"),
                F.col(f"_max_{c}") if is_num else F.lit(None).cast("double"),
                F.col(f"_min_{c}") if not is_num else F.lit(None).cast("string"),
                F.col(f"_max_{c}") if not is_num else F.lit(None).cast("string"),
                F.round(F.col(f"_avg_{c}"), 6) if is_num else F.lit(None).cast("double"),
            ]
        )
    n = len(numeric_cols) + len(string_cols)
    return row.select(
        F.col("_rows").alias("n_rows"),
        F.stack(F.lit(n), *parts).alias(
            "column", "n_null", "n_distinct",
            "min_num", "max_num", "min_str", "max_str", "mean",
        ),
    ).select(
        "column", "n_rows", "n_null", "n_distinct",
        "min_num", "max_num", "min_str", "max_str", "mean",
    )


def partition_skew_report(
    df: DataFrame,
    key_cols: list[str] | None = None,
    top_n: int = 10,
) -> DataFrame:
    """The pre-repartition diagnostic a 100 TB job runs when a stage
    straggles: per-partition row counts (physical balance — is one task
    doing all the work?) and, when ``key_cols`` is given, the ``top_n``
    heaviest key groups (logical skew — which keys need salting or an
    AQE skew-join). One scan per facet, both map-side combinable;
    output is a single tidy report: (facet, key, n_rows) with facet in
    {'partition', 'hot_key'} and key a string (partition id or the
    '\\x1f'-joined key tuple)."""
    parts = (
        df.groupBy(F.spark_partition_id().alias("_pid"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.lit("partition").alias("facet"),
            F.col("_pid").cast("string").alias("key"),
            "n_rows",
        )
    )
    if not key_cols:
        return parts
    # distributed top-k (TakeOrderedAndProject), NOT a global row_number
    # window — on a high-cardinality key set the unpartitioned window
    # would make this diagnostic the single-task straggler it exists to
    # diagnose
    hot = (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy(F.col("n_rows").desc(), *[F.col(c) for c in key_cols])
        .limit(top_n)
        .select(
            F.lit("hot_key").alias("facet"),
            F.concat_ws("\x1f", *[F.col(c).cast("string") for c in key_cols]).alias(
                "key"
            ),
            "n_rows",
        )
    )
    return parts.unionByName(hot)


def distribution_drift(
    old: DataFrame,
    new: DataFrame,
    bucket_col: str,
) -> DataFrame:
    """Population Stability Index between two corpus versions — the
    drift gate that complements ``cdc.snapshot_diff``'s key-level
    churn: diff says WHICH rows changed, PSI says whether the
    DISTRIBUTION moved (a new crawl that doubles the short-document
    share can be 95% "unchanged" rows and still poison a mixture).
    Standard credit-scoring metric (public): PSI = sum over buckets of
    (p - q) * ln(p / q); rule of thumb <0.1 stable, >0.25 shifted.

    Per bucket: both counts, both shares in exact integer ppm, and the
    PSI term. Shares are Laplace-smoothed ((n + 1) / (N + B)) so empty
    buckets on either side stay finite — the standard treatment, and
    it makes every bucket of the UNION of both versions' buckets
    comparable. The PSI term is the one double in the row (ln has no
    integer form); it is computed from exact integer counts and
    rounded to 6 decimals, the repo's cross-engine float convention.
    Total PSI = ``sum(psi_term)`` downstream — one combinable
    aggregate.

    Plan: one combinable count per side, a full-outer bucket join
    (bucket cardinality, tiny), and the two 1-row totals broadcast in
    — no window, no Python, nothing proportional to row count past
    the two scans."""
    o = old.groupBy(F.col(bucket_col).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_old")
    )
    n = new.groupBy(F.col(bucket_col).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    j = o.join(n, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("n_old", F.lit(0)).cast("long").alias("n_old"),
        F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
    )
    tot = j.agg(
        F.sum("n_old").alias("_tot_old"),
        F.sum("n_new").alias("_tot_new"),
        F.count(F.lit(1)).alias("_b"),
    )
    out = j.crossJoin(F.broadcast(tot))
    p = (F.col("n_old") + 1) / (F.col("_tot_old") + F.col("_b"))
    q = (F.col("n_new") + 1) / (F.col("_tot_new") + F.col("_b"))
    return out.select(
        "bucket",
        "n_old",
        "n_new",
        F.expr("(n_old * 1000000) div greatest(_tot_old, 1)")
        .cast("long")
        .alias("share_old_ppm"),
        F.expr("(n_new * 1000000) div greatest(_tot_new, 1)")
        .cast("long")
        .alias("share_new_ppm"),
        F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
    )


def distribution_drift_sql(
    old_sql: str, new_sql: str, bucket_expr: str
) -> str:
    """DuckDB replay of :func:`distribution_drift`."""
    return f"""
WITH _dd_o AS (
  SELECT {bucket_expr} AS bucket, count(*) AS n_old
  FROM ({old_sql}) GROUP BY 1
),
_dd_n AS (
  SELECT {bucket_expr} AS bucket, count(*) AS n_new
  FROM ({new_sql}) GROUP BY 1
),
_dd_j AS (
  SELECT coalesce(o.bucket, n.bucket) AS bucket,
         CAST(coalesce(o.n_old, 0) AS BIGINT) AS n_old,
         CAST(coalesce(n.n_new, 0) AS BIGINT) AS n_new
  FROM _dd_o o FULL OUTER JOIN _dd_n n ON o.bucket = n.bucket
),
_dd_t AS (
  SELECT sum(n_old) AS tot_old, sum(n_new) AS tot_new, count(*) AS b
  FROM _dd_j
)
SELECT bucket, n_old, n_new,
       CAST((n_old * 1000000) // greatest(tot_old, 1) AS BIGINT)
         AS share_old_ppm,
       CAST((n_new * 1000000) // greatest(tot_new, 1) AS BIGINT)
         AS share_new_ppm,
       round(
         ((n_old + 1)::DOUBLE / (tot_old + b)
          - (n_new + 1)::DOUBLE / (tot_new + b))
         * ln(((n_old + 1)::DOUBLE / (tot_old + b))
              / ((n_new + 1)::DOUBLE / (tot_new + b))), 6) AS psi_term
FROM _dd_j CROSS JOIN _dd_t
"""


def robust_outliers(
    df: DataFrame,
    value_col: str,
    group_col: str,
    k_num: int = 5,
    k_den: int = 1,
) -> DataFrame:
    """Median/MAD outlier screen — the robust alternative to
    mean/stddev z-scores (one 2GB page in a source of tweets moves a
    mean arbitrarily; it cannot move the median). A row is an outlier
    when ``|x - median| > (k_num/k_den) * MAD``, evaluated as the
    integer cross-multiplication ``k_den * |x - med| > k_num * mad``
    so integer value columns replay exactly cross-engine.

    Medians here are EXACT DISCRETE lower medians — the value at
    ascending position ``(n+1) div 2`` — so ``med`` and ``mad`` are
    actual corpus values (integers for integer columns), not
    interpolations; ties in the sort are irrelevant because the value
    at a rank is well-defined under value ordering. The standard MAD
    caveat applies and is deliberate: a group where >50% of values are
    identical has MAD 0 and every deviating row flags.

    Emits the input columns plus (med, mad, is_outlier). Plan: two
    rank-window passes over the group key (median, then deviation
    median) and two group-grain joins back — the exact-companion
    shape; at 100 TB swap the medians for the histogram-sketch
    quantiles (llm/quantiles.py) and keep the same flag expression."""
    if k_num < 0 or k_den < 1:
        raise ValueError("k must be a non-negative rational (k_num/k_den)")
    v = F.col(value_col)
    g = F.col(group_col)

    def _disc_median(frame: DataFrame, col: str, out: str) -> DataFrame:
        from pyspark.sql import Window

        w = Window.partitionBy(group_col).orderBy(F.col(col).asc())
        wn = Window.partitionBy(group_col)
        ranked = frame.select(
            group_col,
            col,
            F.row_number().over(w).alias("_rn"),
            F.count(F.lit(1)).over(wn).alias("_n"),
        )
        return ranked.where(
            F.col("_rn") == F.expr("(_n + 1) div 2")
        ).select(g.alias(gk), F.col(col).alias(out))

    base = df.where(v.isNotNull())
    gk = working_names(df, "_g", outputs=["med", "mad", "is_outlier"])
    med = _disc_median(base, value_col, "med")
    with_med = base.join(med, base[group_col] == med[gk]).drop(gk)
    dev = with_med.select(
        group_col, F.abs(v - F.col("med")).alias("_absdev")
    )
    mad = _disc_median(dev, "_absdev", "mad")
    out = with_med.join(mad, with_med[group_col] == mad[gk]).drop(gk)
    return out.withColumn(
        "is_outlier",
        F.lit(int(k_den)) * F.abs(v - F.col("med"))
        > F.lit(int(k_num)) * F.col("mad"),
    )


def robust_outliers_sql(
    src_sql: str,
    value_expr: str,
    group_expr: str,
    k_num: int = 5,
    k_den: int = 1,
) -> str:
    """DuckDB replay of :func:`robust_outliers` (emits group, value,
    med, mad, is_outlier)."""
    return f"""
WITH _ro_base AS (
  SELECT {group_expr} AS g, {value_expr} AS v FROM ({src_sql})
  WHERE {value_expr} IS NOT NULL
),
_ro_med AS (
  SELECT g, v AS med FROM (
    SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v ASC) AS rn,
           count(*) OVER (PARTITION BY g) AS n
    FROM _ro_base
  ) WHERE rn = (n + 1) // 2
),
_ro_dev AS (
  SELECT b.g, abs(b.v - m.med) AS absdev
  FROM _ro_base b JOIN _ro_med m USING (g)
),
_ro_mad AS (
  SELECT g, absdev AS mad FROM (
    SELECT g, absdev,
           row_number() OVER (PARTITION BY g ORDER BY absdev ASC) AS rn,
           count(*) OVER (PARTITION BY g) AS n
    FROM _ro_dev
  ) WHERE rn = (n + 1) // 2
)
SELECT b.g, b.v, m.med, d.mad,
       {int(k_den)} * abs(b.v - m.med) > {int(k_num)} * d.mad AS is_outlier
FROM _ro_base b JOIN _ro_med m USING (g) JOIN _ro_mad d USING (g)
"""
