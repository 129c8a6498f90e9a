"""The benchmark's workloads: a fixed list of registry keys at one scale.

Each workload runs as a closed loop with one client: every key runs once
per pass, the next key starts only after the previous one returned its
fetched result, and every pass starts on a fresh ``spark.newSession()``
of one warm JVM on ``local[N]`` (N = the cores this process may use).
The seed permutes the key order inside each pass and changes nothing
else; the input tables are the fixture copy under ``perfbench/data``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    #: fixture directory under ``perfbench/data``
    scale: str
    keys: tuple[str, ...]
    #: typical warm pass time on a 4-core host; ``--seconds`` divided by
    #: it fixes the pass count, so the count never depends on noise
    nominal_pass_s: float
    #: untimed passes after the cold one, while the JIT still compiles
    #: the hot paths; they count against ``--seconds``
    warmup: int
    why: str

    def passes(self, seconds: float) -> tuple[int, int]:
        """(warm-up passes, measured passes) that fit into ``seconds``."""
        total = round(seconds / self.nominal_pass_s)
        return self.warmup, max(total - self.warmup, 2)


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "warehouse",
            "sf0.01",
            (
                "agg_group_basic",
                "join_multiway",
                "win_rank_topk",
                "fn_json",
                "q18_large_orders",
                "xmatch_sphere",
            ),
            3.5,
            2,
            "JVM-only SQL keys (joins, aggregates, windows, JSON, composite queries): "
            "planning and shuffle, no Python workers, no streaming",
        ),
        Workload(
            "pipeline",
            "sf0.01",
            (
                "scan_fits",
                "kmeans_spherical_round",
                "dedup_minhash_sql",
                "dedup_incremental_minhash",
                "graph_degree_hist",
                "stream_session",
            ),
            7.0,
            1,
            "Arrow mapInPandas kernels, eager localCheckpoint construction, "
            "session-keyed band/edge caches and streaming replay",
        ),
    )
}

#: top-level package of a key's registered function -> per-layer group.
#: ``workloads2`` holds the second half of the composite workloads.
PACKAGE_GROUPS = ("operators", "pipeline", "sources", "streaming", "functions", "workloads")
_GROUP_ALIASES = {"workloads2": "workloads"}


def package_group(module: str) -> str:
    """``analyse_the_sky_with_apache_spark_spark.operators.joins`` -> ``operators``."""
    parts = module.split(".")
    top = parts[1] if len(parts) > 1 else parts[0]
    group = _GROUP_ALIASES.get(top, top)
    if group not in PACKAGE_GROUPS:
        raise ValueError(f"module {module!r} is outside the known layers")
    return group
