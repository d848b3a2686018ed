"""Skew mitigation for joins: explicit key salting.

AQE's skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`, on in
the engine's conf baseline) handles most sort-merge-join skew at runtime
by splitting oversized partitions. Salting remains the explicit tool for
the cases AQE cannot rewrite: a broadcast-ineligible hot key feeding a
shuffled hash join, skewed grouped execution feeding ``applyInPandas``,
or engines/stages where AQE is disabled. (The BBHA fitness stage
sidesteps both: ``fs/bbha._evaluate`` runs ``mapInPandas`` over one
partition per bin of stars, with no exchange to skew.)

Mechanics: the probe side scatters each row to one of ``n_salts``
sub-keys; the build side replicates every row to all ``n_salts`` sub-keys.
The join key becomes (key, salt), so a hot key's rows spread over
``n_salts`` tasks instead of one. Replication multiplies the build side
by ``n_salts`` — use only when build << probe (the usual skew shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SALT = "__salt"


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    on: list[str] | str,
    *,
    n_salts: int = 8,
    how: str = "inner",
    seed: int = 42,
) -> DataFrame:
    """Equi-join with the probe side salted and the build side replicated.

    Result is identical to ``probe.join(build, on, how)`` for 'inner' and
    'left' joins (salt assignment only changes row placement, never the
    match set). Column set of the result matches the plain join.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left (build side is replicated)")
    keys = [on] if isinstance(on, str) else list(on)
    salted_probe = probe.withColumn(
        _SALT, F.floor(F.rand(seed) * n_salts).cast("int")
    )
    replicated = build.withColumn(
        _SALT, F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = salted_probe.join(replicated, keys + [_SALT], how)
    return out.drop(_SALT)
