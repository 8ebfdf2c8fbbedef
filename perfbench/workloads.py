"""The three workloads, their members, and the layer -> metric map.

Each workload is a list of `conveyor_spark.queries.QUERIES` members
that a run executes, in a seed-shuffled order per warm pass.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    sink: str  # "parquet" (parquet.write op) or "noop"
    members: tuple[str, ...]
    # members that drain `events` split into `chunks` time-ordered
    # files, one file per trigger
    chunked: tuple[str, ...] = ()
    chunks: int = 0
    # warm passes per run, at least; a run stretches past them only
    # while ``--seconds`` has not passed. A fixed count keeps pass_s (a
    # minimum over the passes) from depending on how fast the host ran
    # that run. Relational members still get faster up to the fifth
    # warm pass.
    warm_passes: int = 3


RELATIONAL = Workload(
    name="relational",
    why="JVM-only batch transforms written through parquet.write: "
        "sources, transforms, sinks and per-job overhead, no Python",
    sink="parquet",
    warm_passes=5,
    members=(
        "q01_pricing_summary", "q14_join_customer_orders", "q20_window_rank",
        "q46_unpivot", "q54_sql_query", "q91_percentiles",
    ),
)

DATAPIPE = Workload(
    name="datapipe",
    why="Python data path, a trained model with build-phase jobs, a "
        "persisted decision table and a micro-batch drain, into noop",
    sink="noop",
    members=(
        # Python data path
        "q35_knn_ivf", "q83_pack_sequences",
        # trained model: eager build-phase jobs
        "q120_embedding_kmeans",
        # persisted decision table
        "q28_dedup_minhash",
        # micro-batches: a windowed aggregate, one batch per file
        "q40_streaming_tumbling",
    ),
    chunked=("q40_streaming_tumbling",),
    chunks=2,
)

STREAMING = Workload(
    name="streaming",
    why="availableNow drains: state stores and per-micro-batch overhead "
        "over events split into time-ordered files",
    sink="noop",
    members=(
        "q40_streaming_tumbling", "q66_stream_join", "q154_stream_dedup",
        "q63_stream_session_window", "q95_stream_funnel",
    ),
    chunked=("q40_streaming_tumbling", "q66_stream_join", "q154_stream_dedup"),
    chunks=8,
)

WORKLOADS = {w.name: w for w in (RELATIONAL, DATAPIPE, STREAMING)}

# Output multiplicity of a within-watermark dedup is defined by the
# arrival batching (an evicted key legitimately re-emits), so it is
# checked on its distinct rows: they must equal the oracle's rows.
DISTINCT_CHECKED = frozenset({"q154_stream_dedup"})
