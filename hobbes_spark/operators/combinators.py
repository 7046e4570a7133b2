"""Dataset combinators: ``merge`` and ``join``.

These are the reference's *dataset-level* operators, configured between
cached pipelines rather than inline DSL statements
(`common/hobbes.messaging/src/Broker.fs:81-92`,
`workers/calculator.worker/src/Processer.fs:17-32`). Their results are
cached by sync under the ``MergeMessage`` / ``JoinMessage`` keys
(``sync._key_of``), not here.
"""

from __future__ import annotations

from functools import reduce as _reduce

from pyspark.sql import functions as F


def merge(*pipelines):
    """``Merge [d1; d2; …]`` — n-ary row concatenation tolerating
    differing column sets and empty sides.

    Reference: executed as a pairwise ``Combine`` fold
    (`Processer.fs:17-22`); row count is the sum of the inputs including
    empty sides (`calculator.worker/tests/Processer.fs:62-72`).
    Spark: ``unionByName(allowMissingColumns=True)`` fold — a pure
    metadata operation, no shuffle.
    """
    from hobbes_spark.pipeline import Pipeline

    if not pipelines:
        raise ValueError("merge needs at least one dataset")
    dfs = [p.df for p in pipelines]
    out = _reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)
    return Pipeline(out)


def join(left, right, field: str, how: str = "outer", broadcast: bool = False):
    """``Join {Left; Right; Field}`` — single-field equi-join.

    Reference: `Processer.fs:24-32`; "joins are always done on the index"
    (snippets:60-67), hence the joined field becomes the row key.
    ``how='outer'`` matches Deedle ``Frame.join`` default ([inferred] —
    join type not observable in-tree).

    Scale: with ``broadcast=True`` the right side is broadcast (no
    shuffle of the left). Otherwise Catalyst/AQE picks sort-merge vs
    broadcast from size estimates; both sides shuffle on ``field`` only.
    """
    from hobbes_spark.pipeline import Pipeline

    rdf = F.broadcast(right.df) if broadcast else right.df
    out = left.df.join(rdf, on=field, how=how)
    return Pipeline(out, key_cols=(field,))
