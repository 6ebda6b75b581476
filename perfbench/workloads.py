"""The benchmark's workloads: which queries run, over which inputs.

README.md in this directory says why each workload exists and which
layers it exercises or bypasses.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    dup_frac: float  # share of documents/embeddings rows that are exact copies
    fresh_dir_per_pass: bool  # artifact/checkpoint/staging root emptied per pass
    passes: int  # timed passes at least; more while under --seconds
    expect_calls: tuple[str, ...]  # wrapped functions that must fire here
    expect_idle: tuple[str, ...] = ()  # layers whose counters must read 0


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="olap_sql",
            queries=(
                "q1_pricing_summary",
                "q3_shipping_priority",
                "q5_local_supplier_volume",
                "q18_large_volume_orders",
                "q21_suppliers_kept_waiting",
                "events_sessionization",
            ),
            dup_frac=0.0,
            fresh_dir_per_pass=False,
            passes=3,
            expect_calls=("load_table",),
            expect_idle=("mapreduce", "streaming", "artifacts", "functions"),
        ),
        Workload(
            name="llm_curation",
            queries=(
                "wordcount",
                "mr_wordcount",
                "dedup_embedding_lsh",
                "dedup_minhash_index_probe",
            ),
            dup_frac=0.25,
            fresh_dir_per_pass=False,
            passes=2,
            expect_calls=("load_table", "fan_out", "run_job", "minhash_index_build"),
        ),
        Workload(
            name="ingest_write",
            queries=(
                "stream_session_window",
                "minhash_index_compact_probe",
                "merge_upsert_customers",
                "incremental_join_view_rebuild",
            ),
            dup_frac=0.25,
            fresh_dir_per_pass=True,
            passes=1,
            expect_calls=(
                "load_table",
                "run_to_memory",
                "events_stream",
                "minhash_index_build",
                "minhash_index_append",
                "minhash_index_compact",
                "join_view_build",
            ),
        ),
    )
}
