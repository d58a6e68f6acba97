"""The benchmark's workloads: their inputs, op lists and how each output
is checked. Why each workload exists is recorded in BENCHMARK.json and
README.md.
"""
import random

ETL_TABLES = ["region", "nation", "supplier", "lineitem"]

# Analyst mix: one registry query from each of the seven largest ops.*
# modules but Graph (whose cheapest query costs twice the others) and from
# streaming.EventStream, taking a cheaper query of each so that a run fits
# the benchmark's time budget. No ETL query and no write-then-read lifecycle
# query (ANN and dedup state stores, sink round-trips). All of them run
# every pass; the seed sets their order.
QUERY_MIX = {
    "Extended": "exact_dedup",
    "Analytics": "mann_kendall_trend",
    "Relational": "sql_pricing_summary",
    "Aggregates": "cube_agg",
    "Windows": "sessionize_batch",
    "Joins": "asof_join_native",
    "EventStream": "cep_funnel_match",
}

WORKLOADS = {
    "climate_etl": {
        "inputs": "etl", "scale": 0.1, "lineitem": 500_000, "lineitem_files": 8,
        "tables": ETL_TABLES, "input_tables": ["lineitem", "supplier", "nation"],
        # split_by_state is the monthly output split by state: same rows
        "oracle_of": {"split_by_state": "climate_monthly"},
        "sink": {"climate_monthly": "csv", "climate_annual": "csv",
                 "split_by_state": "csv_by:nation_name"},
        "ordered": {"climate_monthly", "climate_annual"},
    },
    "query_mix": {
        "inputs": "star", "scale": 0.01, "oracle_of": {}, "sink": {},
        "ordered": set(),
        "input_tables": ["customer", "supplier", "part", "orders", "lineitem",
                         "events", "documents", "embeddings"],
    },
}


def op_order(workload, seed):
    """The workload's registry queries in their seeded order (empty for
    the ETL, whose three ops run in pipeline order)."""
    if workload == "climate_etl":
        return []
    order = list(QUERY_MIX.values())
    random.Random(f"{workload}:{seed}").shuffle(order)
    return order
