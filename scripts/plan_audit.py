"""Dump a physical-plan audit of the headline queries to PLANS.md.

For each query: exchange count (shuffles), broadcast exchanges, whole-stage
codegen span count, and every parquet scan's pushed filters + read-schema
width — the evidence that filters reach the scan, column pruning works, and
no corpus lands on the broadcast path. Regenerate after plan-shape changes:
`python scripts/plan_audit.py`.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from automem_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

AUDIT = [
    "pricing_summary", "nation_revenue", "top_orders_per_customer",
    "customers_without_orders", "preceded_by_events", "keyword_search",
    "hybrid_recall", "multi_recall", "decay_relevance", "forget_classify",
    "relations_fetch", "supersession_heads", "connected_components",
    "dedup_exact", "minhash_lsh", "simhash_pairs", "vector_topk",
    "vector_pairs", "text_stats", "classify",
    "ann_ivf", "ann_ivf_indexed", "identity_synthesis", "event_log",
    "result_hydration", "tag_prefix_scan", "time_browse", "dedup_pipeline",
    "training_selection", "corpus_profile", "gated_recall",
    "event_cube", "tag_scroll",
    "decontaminate", "pii_redact", "data_mix", "seq_pack", "training_pipeline",
    "bucketed_join", "events_partitioned", "salted_event_stats",
    "repetition_filter", "doc_chunks", "chunk_dedup", "corpus_profile_approx",
    "semantic_decontaminate", "user_sessions", "lang_id", "text_stats_map",
    "extract_entities", "enrich_pipeline",
]


def scan_summaries(plan: str) -> list[str]:
    """Formatted-mode scan sections: Location/PushedFilters/ReadSchema each
    on their own line. Deduplicate identical (table, cols, filters) scans
    (the derived edge fixture re-reads documents many times) and tag with a
    multiplicity."""
    counts: dict[str, int] = {}
    for m in re.finditer(
        r"Scan parquet[^\n]*\n(?:[^\n]*\n)*?[^\n]*ReadSchema: struct<([^>\n]*)",
        plan,
    ):
        block = m.group(0)
        schema = m.group(1)
        n_cols = len(schema.split(",")) if schema else 0
        pushed = re.search(r"PushedFilters: \[([^\]]*)\]", block)
        table = re.search(r"/(\w+)\.parquet", block)
        if table:
            label = table.group(1)
        elif ".fixture_cache/" in block:
            label = "edges(fixture)"
        else:
            label = "tmp"
        key = (
            f"{label}: {n_cols} cols"
            + (
                f", pushed=[{pushed.group(1)[:70]}]"
                if pushed and pushed.group(1)
                else ", no pushed filters"
            )
        )
        counts[key] = counts.get(key, 0) + 1
    return [k + (f" x{n}" if n > 1 else "") for k, n in counts.items()]


def main() -> None:
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    lines = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by `scripts/plan_audit.py` at sf_dir={SF_DIR}. Numbers from",
        "`queryExecution.executedPlan` before AQE runtime re-planning (AQE may",
        "further coalesce partitions / convert joins at run time).",
        "",
        "Codegen ids are annotated only on plans finalized at explain time —",
        "AQE leaves most queries un-annotated until stages run, so treat the",
        "codegen column as a lower bound.",
        "",
        "NOTE: frames materialized via maybe_checkpoint appear as in-memory",
        "scans here (the checkpoint replaces the subtree) — set",
        "AUTOMEM_SPARK_DISABLE_CHECKPOINT=1 to audit the full lineage instead",
        "(at the cost of counting work a production run would materialize).",
        "",
        "Scans are deduplicated with an `xN` multiplicity. The edges fixture",
        "is materialized to parquet (sources/graph_fixture.py) and appears as",
        "ONE `edges(fixture)` scan per graph query — r6's 13-branch UNION",
        "(7-30x documents re-scans of pure fixture noise) is gone from every",
        "graph plan, matching how a production edges table would scan.",
        "",
        "| query | shuffles | broadcasts | codegen spans | scans (cols read, pushed filters) |",
        "|---|---|---|---|---|",
    ]
    def audit_row(name: str) -> str:
        try:
            df = qs[name](spark, SF_DIR)
            jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            plan = df._jdf.queryExecution().explainString(jmode)
        except Exception as exc:  # pragma: no cover
            return f"| {name} | - | - | - | error: {str(exc)[:60]} |"
        n_ex = len(re.findall(r"(?<!Broadcast)Exchange \(\d+\)", plan))
        n_bc = len(re.findall(r"BroadcastExchange \(\d+\)", plan))
        n_wsc = len(set(re.findall(r"\[codegen id : (\d+)\]", plan)))
        scans = "; ".join(scan_summaries(plan)) or "(in-memory fixtures)"
        return f"| {name} | {n_ex} | {n_bc} | {n_wsc} | {scans} |"

    truncated: list[str] = []
    for name in AUDIT:
        row = audit_row(name)
        lines.append(row)
        if "(in-memory fixtures)" in row:
            truncated.append(name)

    # Rows whose production plan is checkpoint-truncated (the subtree above
    # shows as an ExistingRDD scan): re-audit with the full lineage visible
    # so the table records what the checkpoint actually materializes —
    # same view the plan guards in tests/test_plan_scale.py inspect.
    if truncated:
        lines += [
            "",
            "Full-lineage re-audit of the checkpoint-truncated rows above",
            "(AUTOMEM_SPARK_DISABLE_CHECKPOINT=1 — counts INCLUDE the work",
            "the production run materializes once behind each checkpoint):",
            "",
            "| query | shuffles | broadcasts | codegen spans | scans (cols read, pushed filters) |",
            "|---|---|---|---|---|",
        ]
        os.environ["AUTOMEM_SPARK_DISABLE_CHECKPOINT"] = "1"
        try:
            for name in truncated:
                lines.append(audit_row(name))
        finally:
            del os.environ["AUTOMEM_SPARK_DISABLE_CHECKPOINT"]
    out = "\n".join(lines) + "\n"
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write(out)
    print(out)


if __name__ == "__main__":
    main()
