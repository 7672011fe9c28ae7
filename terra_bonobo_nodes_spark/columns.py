"""Working-column names: the one place an operator's temporary columns
are named. Operators pass the caller's columns through untouched, so a
temporary column takes its name from :func:`working_names` — never a
literal that could overwrite, drop or be mistaken for a caller column.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, WindowSpec
from pyspark.sql import functions as F


def working_names(
    frames: DataFrame | Iterable[DataFrame | str],
    *stems: str,
    outputs: Iterable[str] = (),
) -> str | tuple[str, ...]:
    """Names for ``stems``, free in every frame of ``frames`` (DataFrames
    or column names) and among ``outputs``: each stem itself when free,
    else with the smallest free numeric suffix; case-insensitive, as
    Spark's resolution is. One stem returns a ``str``, several a tuple."""
    if isinstance(frames, DataFrame):
        frames = [frames]
    taken = {o.lower() for o in outputs}
    for f in frames:
        taken.update(c.lower() for c in (f.columns if isinstance(f, DataFrame) else [f]))
    names = []
    for stem in stems:
        name, i = stem, 0
        while name.lower() in taken:
            i += 1
            name = f"{stem}{i}"
        taken.add(name.lower())
        names.append(name)
    return names[0] if len(names) == 1 else tuple(names)


def top_per_group(
    df: DataFrame, window: WindowSpec, k: int, rank_col: str | None = None
) -> DataFrame:
    """The first ``k`` rows of each ``window`` partition (``row_number``
    filtered ``== 1`` for ``k == 1``, else ``<= k``), ranked in the kept
    column ``rank_col`` or in a dropped working column."""
    rank = rank_col or working_names(df, "_rn")
    keep: Column = F.col(rank) == 1 if k == 1 else F.col(rank) <= k
    out = df.withColumn(rank, F.row_number().over(window)).filter(keep)
    return out if rank_col else out.drop(rank)
