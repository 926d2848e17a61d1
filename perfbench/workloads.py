"""The benchmark's workloads: which registered queries run, on what input.

Each workload is one closed-loop client issuing its queries against inputs
generated from the run's seed (``gen.py``). The query lists are short on
purpose: at ``local[4]`` most queries cost 0.3-4 s whatever their input size
(the per-job and per-task floor), every run pays a fresh JVM, and a run should
stay under a minute. Each workload keeps the queries that load
one set of layers; ``BENCHMARK.json`` repeats the why, the list and the sizes.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Sizes:
    """Row counts of the generated tables (lineitem is 4 rows per order)."""

    customers: int
    suppliers: int
    parts: int
    orders: int
    events: int
    documents: int
    embeddings: int
    replicas: int = 1

    def rows(self) -> dict[str, int]:
        return {
            "customer": self.customers,
            "supplier": self.suppliers,
            "part": self.parts,
            "orders": self.orders,
            "lineitem": 4 * self.orders,
            "events": self.events,
            "documents": self.documents * self.replicas,
            "embeddings": self.embeddings * self.replicas,
        }


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    sizes: Sizes


# The sf0.01 reference fixture's star schema and event table.
_SF001 = dict(customers=1500, suppliers=100, parts=2000, orders=15000, events=10000)

WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            "olap",
            # Relational scans, joins, aggregates and windows with no Python
            # worker and no writes: planning, pruning, shuffle-width and
            # scheduling changes show here; kernel and Delta changes must not.
            "q1,q5,q6,q18,scan_filter_project,window_session on 60k lineitem, "
            "10k events: read-only scans, joins, windows with no Python or writes, "
            "so planning and the per-job floor show",
            (
                "q1_pricing_summary",
                "q5_local_supplier_volume",
                "q6_revenue_forecast",
                "q18_large_volume_orders",
                "scan_filter_project",
                "window_session",
            ),
            Sizes(**_SF001, documents=500, embeddings=500),
        ),
        Workload(
            "corpus",
            # functions/: n-gram explode with a broadcast probe, SimHash band
            # joins over a corpus large enough that band buckets pass the
            # recall cap, and the eager k-means loop of trained IVF. 5,000
            # documents is the sf0.1 fixture's count. text_contamination is
            # checked against its oracle; the other two are known oracle
            # mismatches with checks of their own (checks.py).
            "text_contamination, dedup_simhash_probe, similarity_ivf_trained_topk on a "
            "4x near-dup corpus (5,000 docs, 500 vectors): n-gram probes, SimHash "
            "bands, the eager k-means loop",
            ("text_contamination", "dedup_simhash_probe", "similarity_ivf_trained_topk"),
            Sizes(**_SF001, documents=1250, embeddings=125, replicas=4),
        ),
        Workload(
            "ingest",
            # Time goes to the build phase: versioned and Delta commits, stream
            # drains and state-store checkpoints. It shares sources/ with olap,
            # so a scan-side gain that costs commit time shows as a loss here.
            "versioned_optimize_compact, stream_delta_sink, stream_window_tumbling "
            "on 10k events, 60k lineitem: versioned and Delta commits, stream "
            "drains and state store dominate",
            ("versioned_optimize_compact", "stream_delta_sink", "stream_window_tumbling"),
            Sizes(**_SF001, documents=500, embeddings=500),
        ),
    ]
}
