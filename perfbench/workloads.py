"""The benchmark's workloads: which query keys each one runs, and how a seed
picks the keys of a run and their order in every pass.

The engine's 322 keys split into three populations by family (the key's
first word). A run cannot hold a population: set-up alone takes 11-27 s of
the run's time budget (see NOTES.md). So each workload is a list of slots,
and a run takes one key from every slot, chosen by the seed. The keys of a
slot share a family or a kind of work and cost the same within about 35 %,
cold and warm, by keys.json, and within about 15 % warm in the benchmark's
own runs; any seed thus gives a run of the same work, and runs stay
comparable across seeds. A slot with one key holds a key no other key
matches closely enough.
"""
import json
import random
from pathlib import Path

KEYS_FILE = Path(__file__).resolve().parent / "keys.json"

KERNEL_FAMILIES = {"graph", "dedup", "sim", "embed"}
LAKE_FAMILIES = {"stream", "sink", "source", "pipeline", "cdc", "merge"}

WORKLOADS = {
    "batch_sql": {
        "why": "short SQL/DataFrame keys of 3-6 jobs each: per-job tax, "
               "schema inference, Catalyst and codegen dominate",
        "warm_streams": False,
        "slots": [
            ["join_left_semi"],
            ["agg_arg_max"],
            ["ts_daily_profile"],
            ["text_lang_id", "text_keyword_context"],
            ["window_ntile_pct", "window_range_frame"],
            ["set_union_by_name"],
            ["multimodal_strip_meta", "multimodal_png_meta"],
        ],
    },
    "kernels": {
        "why": "dedup, similarity-search and embedding kernels: compute, "
               "shuffle and native expressions dominate",
        "warm_streams": False,
        "slots": [
            ["dedup_exact", "dedup_incremental_exact"],
            ["sim_search_filtered", "sim_search_knn_per_query"],
            ["dedup_decontaminate", "dedup_incremental_minhash", "embed_centroid_outliers"],
        ],
    },
    "lake_write": {
        "why": "a streaming key next to sink, source, CDC and pipeline keys that "
               "write what they read back: checkpoints, WAL, commits, file writes",
        "warm_streams": True,
        "slots": [
            ["stream_enrich_dim", "stream_stateful_counter", "stream_tumbling_watermark"],
            ["sink_csv_report"],
            ["source_schema_evolution"],
            ["cdc_apply_changes"],
            ["pipeline_pit_features", "pipeline_budget_select"],
        ],
    },
}


def family(key):
    return key.split("_", 1)[0]


def workload_of(key):
    """The population a key belongs to; the three partition every key."""
    f = family(key)
    if f in KERNEL_FAMILIES:
        return "kernels"
    if f in LAKE_FAMILIES:
        return "lake_write"
    return "batch_sql"


def load_costs(path=KEYS_FILE):
    """Per-key {"warm_s", "cold_s"} measured at sf0.1 on 4 cores."""
    with open(path) as f:
        return json.load(f)


def nominal_pass_s(workload):
    """Warm seconds one pass of the workload takes, by keys.json."""
    costs = load_costs()
    return sum(sum(costs[k]["warm_s"] for k in slot) / len(slot)
               for slot in WORKLOADS[workload]["slots"])


def sample(workload, seed):
    """One key from each slot, chosen by the seed."""
    rng = random.Random(f"sample:{workload}:{seed}")
    return [rng.choice(slot) for slot in WORKLOADS[workload]["slots"]]


def pass_orders(keys, seed, passes):
    """The key order of each pass, shuffled anew per pass from the seed."""
    rng = random.Random(f"order:{seed}")
    orders = []
    for _ in range(passes):
        order = list(keys)
        rng.shuffle(order)
        orders.append(order)
    return orders
